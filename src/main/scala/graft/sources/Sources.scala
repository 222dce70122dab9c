package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source surface (SURVEY §2.1): explicit-schema CSV scan (S1 — replacing
  * the reference's driver-side pd.read_csv→createDataFrame,
  * /root/reference/src/preprocessing_pipeline.py:258-264), shard-directory
  * ingest (S2 — replacing glob+pd.concat,
  * /root/reference/src/federated_learning_pipeline.py:57-59), and
  * binary-file ingest (S3 — replacing cv2.imread-inside-UDF,
  * /root/reference/src/preprocessing_pipeline.py:39).
  *
  * Schemas are declared, never inferred (SURVEY §1.2): inference costs an
  * extra pass and silently drifts; at 100 TB both are unacceptable.
  */
object Sources {

  /** Session-unique tag (applicationId ⊕ session identity): two concurrent
    * sessions on one host — bench + verify, parallel test JVMs — must never
    * race on one scratch path or warehouse table dir.
    */
  private[graft] def sessionTag(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Integer.toHexString(System.identityHashCode(spark))

  /** Scratch dirs this JVM created, reaped by one shutdown hook:
    * per-session paths don't self-overwrite like the old fixed names did,
    * so without cleanup every session would leak its round-trip datasets
    * into tmpdir. */
  private val scratchPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val reaper: Unit = sys.addShutdownHook {
    scratchPaths.forEach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }
  }

  /** Session-isolated scratch dir for round-trip sinks; deleted at JVM
    * exit. */
  private[graft] def scratchDir(spark: SparkSession, name: String): String = {
    reaper
    val p = sys.props("java.io.tmpdir") + s"/graft_${name}_${sessionTag(spark)}"
    scratchPaths.add(p)
    p
  }

  /** Spill a relation ONCE to a session-scratch parquet sink and return a
    * reader over the spill — the multi-consumer materialization discipline
    * for corpus-shaped relations (q88/q123): executor storage
    * (`localCheckpoint`) pins the relation in executor memory/disk blocks
    * AND truncates lineage, so at 100 TB an executor loss mid-job is
    * unrecoverable; a columnar scratch spill costs one write, re-reads
    * compressed, and every consumer recovers from the file like any other
    * scan. The path carries a per-call sequence number, so two concurrent
    * invocations — even on different inputs with the same `name` — can
    * never race on one spill (the isolation `cdcPassageDedupFor`'s old
    * caller-supplied tag only promised). The spill is read back with the
    * DECLARED schema: an all-empty input writes zero part files, and
    * schema inference over none would throw instead of returning empty. */
  private val spillSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The session memo of built state. The first caller with a given
    * (session, tag, key) builds the store under a scratch root derived
    * from that key; every later caller, a concurrent one included, gets
    * the same root. Everything a build writes lives under its root, and a
    * catalog build names its tables after the root ([[ensureTable]]), so
    * a path or table name can never disagree with the key. Store CONTENT
    * must be a deterministic function of the key, so sharing changes
    * COST, never results: the multi-commit lifecycle fixtures (4-tick
    * zone-map/Bloom stores, aged IVF/PQ indexes) are build-once INGEST
    * state that sibling audits consume, and rebuilding them per query
    * measured ~20 s of pure repeated fixture construction at sf0.1.
    * Consumers leave the built state as it is, or replay an idempotent
    * tick onto it (q94, q118); a mutating lifecycle clones it first
    * ([[cloneStoreDir]], [[cloneTableOver]]). Crash-replay specs must NOT
    * use this: they tear stores and need private roots
    * (`Files.createTempDirectory`).
    *
    * One memo cell per key: the build runs under the CELL's own monitor
    * (Scala lazy-val init), never a global lock, so a long build blocks
    * only same-key callers. A build that throws leaves the cell
    * uninitialized and the next caller retries (every build writes
    * mode=overwrite). Nested different-key builds (ensureEmbedClusters →
    * ensureEmbedPairs) lock distinct cells, so re-entry never deadlocks. */
  private final class StoreCell(build: () => String) {
    lazy val path: String = build()
  }
  private val ensuredStores =
    new java.util.concurrent.ConcurrentHashMap[String, StoreCell]()

  /** Wall-clock seconds of every [[ensureStore]] build this session,
    * keyed `tag|<key with the dir path shortened>`. The bench emits this
    * as `leaf_builds`, so a one-time fixture build is its own artifact
    * line instead of riding whichever consumer happens to run first
    * (the q152-class distortion of r16's single-run artifact). */
  private[graft] val storeBuildSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private[graft] def ensureStore(spark: SparkSession, tag: String,
                                 key: String)(build: String => Unit): String =
    ensuredStores.computeIfAbsent(s"${sessionTag(spark)}|$tag|$key",
      _ => new StoreCell(() => {
        val root = scratchDir(spark, s"ens_${tag}_${dirTag(key)}")
        val t0 = System.nanoTime()
        build(root)
        val label = s"$tag|${key.substring(key.lastIndexOf('/') + 1)}"
        storeBuildSeconds.put(label, (System.nanoTime() - t0) / 1e9)
        root
      })).path

  /** A per-INVOCATION unique scratch dir (scratchDir is per-session-
    * stable by name): for lifecycle audits that write tick state and
    * must not collide with their own earlier run in the same session
    * (the bench runs each query twice). */
  private[graft] def scratchDirUnique(spark: SparkSession, tag: String): String =
    scratchDir(spark, s"${tag}_${spillSeq.incrementAndGet()}")

  /** [[ensureStore]] for a catalog build: `build` receives, and the call
    * returns, the name the store's tables derive from, which is the
    * basename of the store's root (alphanumerics and underscores only, so
    * a valid identifier). */
  private[graft] def ensureTable(spark: SparkSession, tag: String,
                                 key: String)(build: String => Unit): String = {
    def name(root: String) = root.substring(root.lastIndexOf('/') + 1)
    name(ensureStore(spark, tag, key)(root => build(name(root))))
  }

  /** Clone a catalog table (files + metadata) onto a new table name,
    * dropping whatever a prior same-session invocation left at `dst` —
    * the [[cloneStoreDirOver]] pattern for WAREHOUSE tables: a mutating
    * lifecycle audit (exactly-once tick appends, compactions) gets a
    * private working copy of a session-shared bootstrap table without
    * re-running the bootstrap's shuffle+write. The copy carries the
    * bucket spec and partition columns through the catalog metadata, and
    * partition entries are recovered from the copied directory layout
    * (the same recoverPartitions the XO compaction's swap relies on);
    * underscore-prefixed parameter sidecars ride the file copy. */
  private[graft] def cloneTableOver(spark: SparkSession, src: String,
                                    dst: String): Unit = {
    resetWarehouseTable(spark, dst)
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(src))
    // create the managed table FIRST (the catalog assigns and creates its
    // default warehouse location — createTable refuses a pre-existing
    // managed location), then copy the source dir's CONTENTS into it
    cat.createTable(meta.copy(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        dst, meta.identifier.database),
      storage = meta.storage.copy(locationUri = None)),
      ignoreIfExists = false)
    val newMeta = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(dst))
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(meta.location)
    val dstPath = new org.apache.hadoop.fs.Path(newMeta.location)
    val fs = dstPath.getFileSystem(conf)
    for (child <- fs.listStatus(srcPath))
      org.apache.hadoop.fs.FileUtil.copy(fs, child.getPath, fs, dstPath,
        false /* deleteSource */, true /* overwrite */, conf)
    if (meta.partitionColumnNames.nonEmpty)
      spark.catalog.recoverPartitions(dst)
    val qualified = fs.makeQualified(dstPath)
    if (qualified.toUri.getScheme == "file")
      registerForCleanup(new java.io.File(qualified.toUri).getAbsolutePath)
  }

  /** Recursive file copy of a store directory — how a MUTATING lifecycle
    * audit gets its private working copy of a session-shared leaf without
    * re-running the leaf's build (the store content is a pure function of
    * its key, so the copy is byte-identical state; the audit's own
    * mutations then land on the copy). `dst` must not exist yet. */
  private[graft] def cloneStoreDir(spark: SparkSession, src: String,
                                   dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(src)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val fs = srcP.getFileSystem(conf)
    require(!fs.exists(dstP), s"clone destination already exists: $dst")
    if (dstP.getParent != null) fs.mkdirs(dstP.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs, dstP,
      false /* deleteSource */, true /* overwrite */, conf): Unit
  }

  /** [[cloneStoreDir]] onto a SESSION-STABLE destination: tear down
    * whatever a prior same-session invocation left there — the live
    * generation (possibly a `__gN` dir a versionedSwap published), the
    * raw dir, and the pointer — then clone fresh. For mutating lifecycle
    * fixtures whose store path is part of their spec surface. */
  private[graft] def cloneStoreDirOver(spark: SparkSession, src: String,
                                       dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
    val live = livePath(spark, dst)
    fs.delete(new org.apache.hadoop.fs.Path(live), true)
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    resetLivePointer(spark, dst)
    cloneStoreDir(spark, src, dst)
  }

  private[graft] def spillScratch(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    val p = scratchDir(spark, s"spill_${name}_${spillSeq.incrementAndGet()}")
    df.write.mode("overwrite").parquet(p)
    spark.read.schema(df.schema).parquet(p)
  }

  // --- Persisted-index parameter sidecar --------------------------------
  //
  // Every persisted index in this library is only readable at the
  // parameters it was WRITTEN with (shingle width n, winnowing k/w, CDC
  // seed, reservoir k): a probe at different parameters doesn't fail — it
  // silently returns garbage (a width-2 probe of a width-3 shingle index
  // matches nothing and reads as ~100% novelty). Scaladoc contracts
  // ("n must match") are caller discipline; the sidecar makes the layout
  // itself carry its parameters so a mismatched probe fails LOUDLY. The
  // sidecar is one underscore-prefixed file inside the index directory —
  // Spark's file readers ignore `_`-prefixed files, so it rides along
  // with parquet data, bucketed-table dirs, and partitioned layouts alike.

  private val IndexMetaFile = "_graft_index_meta"

  /** Persist `params` as the index-at-`dir`'s parameter sidecar
    * (overwrite — call after the layout's own overwrite write). */
  private[graft] def writeIndexMeta(spark: SparkSession, dir: String,
                                    params: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(params.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The sidecar's params, or empty if the index predates the sidecar
    * (or the dir doesn't exist). */
  private[graft] def readIndexMeta(spark: SparkSession,
                                   dir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(dir, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains("=")).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      finally in.close()
    }
  }

  /** Fail loudly if the index-at-`dir` records a parameter that
    * contradicts what this probe/append is about to use. A missing
    * sidecar passes (pre-sidecar index; the write verbs all stamp one,
    * so in-library lifecycles are always checked). */
  private[graft] def requireIndexMeta(spark: SparkSession, dir: String,
                                      expect: Map[String, String]): Unit = {
    val have = readIndexMeta(spark, dir)
    for ((k, v) <- expect; recorded <- have.get(k))
      require(recorded == v,
        s"index at $dir was written with $k=$recorded; " +
          s"this operation uses $k=$v — a mismatched probe would silently " +
          s"return garbage, not fail. Rebuild the index or match its " +
          s"parameters.")
  }

  /** Collision-resistant tag for fixture-dir-keyed scratch paths and
    * table names: the sanitized tail of the dir string (human-readable;
    * distinguishes dirs whose hashCodes collide) plus the hashCode in
    * hex. Alnum+underscore only, so it is valid inside SQL identifiers
    * as well as filesystem paths. */
  private[graft] def dirTag(dir: String): String = {
    val sane = dir.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    val tail = if (sane.length > 24) sane.substring(sane.length - 24) else sane
    tail + "_" + java.lang.Integer.toHexString(dir.hashCode)
  }

  // --- Blue/green versioned swap (replaces the old stagedSwap) ----------
  //
  // The old stagedSwap (write staged, DELETE dst, rename staged->dst)
  // had one declared crash window: a failure between the delete and the
  // rename left only the staged copy — a reader at that instant found
  // NOTHING at the store path. The q203/q204 rebuild audits demonstrated
  // the pattern that closes it: never name the live store by its path;
  // name it by a POINTER. A compaction writes the next generation at a
  // sibling path, then atomically replaces the one-line pointer file —
  // POSIX rename for local filesystems, FileContext Rename.OVERWRITE for
  // HDFS, both atomic — so a reader resolves the OLD store in full
  // before that instant and the NEW store in full after it; the torn
  // middle cannot exist. Rollback is not flipping; a crash between the
  // flip and the old generation's cleanup leaks a directory, never
  // corrupts (the next swap's redo delete sweeps a crashed attempt).

  private def localPtr(path: String) = java.nio.file.Paths.get(path + ".live")

  /** Resolve a store path through its generation pointer: the pointer's
    * one-line content if present, the path itself until the first swap
    * (so bootstrap writers need no changes). Every reader and
    * tick-writer of a compactable store goes through this. */
  private[graft] def livePath(spark: SparkSession, path: String): String = {
    val ptr = new org.apache.hadoop.fs.Path(path + ".live")
    val hfs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.getScheme == "file") {
      if (java.nio.file.Files.exists(localPtr(path)))
        java.nio.file.Files.readString(localPtr(path)).trim
      else path
    } else if (hfs.exists(ptr)) {
      val in = hfs.open(ptr)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else path
  }

  /** Reset a store's generation pointer — called by BOOTSTRAP writers
    * (full-overwrite index builds) so a rebuilt store at the raw path is
    * live again even when an earlier compaction in the same session had
    * flipped the pointer to a generation dir (bench best-of-N re-runs). */
  private[graft] def resetLivePointer(spark: SparkSession,
                                      path: String): Unit = {
    val ptr = new org.apache.hadoop.fs.Path(path + ".live")
    val hfs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.getScheme == "file")
      java.nio.file.Files.deleteIfExists(localPtr(path)): Unit
    else hfs.delete(ptr, false): Unit
  }

  /** Blue/green rewrite of a compactable store: `writeStaged(live,
    * staged)` must derive the next generation at `staged` from the
    * current one at `live`; the pointer flip then publishes it
    * atomically (see the block comment). */
  private[graft] def versionedSwap(spark: SparkSession, path: String)
                                  (writeStaged: (String, String) => Unit)
      : Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val cur = livePath(spark, path)
    val gen = if (cur == path) 0L
      else cur.substring(cur.lastIndexOf("__g") + 3).toLong
    val next = s"${path}__g${gen + 1L}"
    val hfs = new org.apache.hadoop.fs.Path(next).getFileSystem(hconf)
    // redo of a crashed attempt: the un-flipped staged dir is dead weight
    hfs.delete(new org.apache.hadoop.fs.Path(next), true)
    writeStaged(cur, next)
    registerForCleanup(next)
    // THE FLIP — the only instant the live store changes, and it is
    // atomic: before it readers resolve `cur` in full, after it `next`
    if (hfs.getScheme == "file") {
      val tmp = java.nio.file.Paths.get(path + ".live.tmp")
      java.nio.file.Files.writeString(tmp, next)
      java.nio.file.Files.move(tmp, localPtr(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new org.apache.hadoop.fs.Path(path + ".live.tmp")
      val out = hfs.create(tmp, true)
      try out.write(next.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, hconf)
        .rename(tmp, new org.apache.hadoop.fs.Path(path + ".live"),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    registerForCleanup(path + ".live")
    // post-flip cleanup of the superseded generation: a crash HERE leaks
    // a directory, never corrupts — the pointer already names `next`
    hfs.delete(new org.apache.hadoop.fs.Path(cur), true): Unit
  }

  /** Vacuum for versionedSwap stores: delete every generation the
    * pointer does not name — the crash-between-flip-and-cleanup leak and
    * redo-abandoned staged attempts versionedSwap declares. Generations
    * are PUBLISHED only by the pointer flip, so anything unnamed is
    * garbage by construction and vacuuming is safe at any instant; the
    * live store (and a not-yet-swapped raw store) is never touched.
    * Returns the removed paths. */
  private[graft] def vacuumGenerations(spark: SparkSession,
                                       path: String): Seq[String] = {
    val live = livePath(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = p.getName + "__g"
    val gens =
      if (!hfs.exists(p.getParent)) Seq.empty
      else hfs.listStatus(p.getParent).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(prefix))
    val rawSuperseded =
      if (live != path && hfs.exists(p)) Seq(p) else Seq.empty
    // compare by NAME within the parent — listStatus returns
    // scheme-qualified paths (file:/...) while the pointer stores the
    // raw string, so a toString compare would vacuum the live store
    val liveName = new org.apache.hadoop.fs.Path(live).getName
    val stale = (gens.filterNot(_.getName == liveName) ++ rawSuperseded)
    stale.foreach(s => hfs.delete(s, true))
    stale.map(_.toString)
  }

  /** W21 [EXT] — GENERATION-VACUUM AUDIT (q222): the registry row that
    * exercises [[vacuumGenerations]] — the GC every versionedSwap store
    * (q75/q139/q141/q211/q220 compactions, the streaming reservoir)
    * depends on for the leaks its crash contract DECLARES: a generation
    * superseded between the pointer flip and its cleanup, and a staged
    * attempt abandoned by a crash before the flip. The audit builds a
    * store whose content the oracle re-derives (per-lang doc counts),
    * publishes one compaction generation through [[versionedSwap]],
    * PLANTS both leak shapes (an abandoned `__g99` staged dir and a
    * re-created superseded raw store), vacuums, and returns: the
    * removed-path count (exactly the two planted leaks), a second
    * vacuum's count (0 — idempotence), the live generation number (1 —
    * one swap happened), and the live store's read-back aggregates
    * (rows and total docs, both oracle-re-derived from the documents
    * table — green proves the vacuum never touched the published data).
    *
    * Private per-run root, never [[ensureStore]]: the audit tears and
    * plants store states (the crash-replay-spec discipline). Scale:
    * vacuum is one directory listing plus |stale| deletes — metadata-
    * sized at any corpus scale; the store build is fixture-bounded. */
  def vacuumGenerationsAudit(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchDirUnique(spark, "vacaud")
    val path = s"$root/store"
    val perLang = graft.Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    perLang.write.mode("overwrite").parquet(path)
    versionedSwap(spark, path) { (live, staged) =>
      spark.read.parquet(live).coalesce(1).write.parquet(staged)
    }
    // the two declared leak shapes: a crashed staged attempt and a
    // superseded raw store the post-flip cleanup never reached
    spark.range(0, 2).write.parquet(s"${path}__g99")
    perLang.limit(1).write.mode("overwrite").parquet(path)
    val removed = vacuumGenerations(spark, path)
    val removedAgain = vacuumGenerations(spark, path)
    val live = livePath(spark, path)
    val liveGen = live.substring(live.lastIndexOf("__g") + 3).toLong
    val back = spark.read.parquet(live)
      .agg(count(lit(1)).as("live_rows"),
        sum(col("n_docs")).as("total_docs")).head()
    import spark.implicits._
    Seq((removed.size.toLong, removedAgain.size.toLong, liveGen,
        back.getLong(0), back.getLong(1)))
      .toDF("n_removed", "n_removed_again", "live_gen", "live_rows",
        "total_docs")
  }

  /** Catalog-table swap WITHOUT a data-loss window — versionedSwap's
    * discipline for warehouse tables (where a pointer file can't redirect
    * `spark.table`): instead of the old drop-dst-then-rename-staged order
    * (which deleted the live data BEFORE publishing its replacement), the
    * live table is renamed ASIDE to `dst_retiring` (one catalog+dir
    * move), the staged table renamed to `dst`, and the retired copy
    * dropped last. A crash between the renames leaves the full old store
    * intact under `dst_retiring`; [[recoverTableSwap]] rolls it back, and
    * every compaction verb calls it first, so a redo self-heals instead
    * of reading a missing table. The remaining window is name-visibility
    * only (reader sees a missing table between two atomic catalog ops —
    * the visible failure), never lost or half-compacted data; a
    * transactional metastore would close even that. */
  private[graft] def swapTableIn(spark: SparkSession, staged: String,
                                 dst: String): Unit = {
    val retiring = dst + "_retiring"
    dropRetired(spark, retiring)
    if (spark.catalog.tableExists(dst))
      spark.sql(s"ALTER TABLE $dst RENAME TO $retiring")
    spark.sql(s"ALTER TABLE $staged RENAME TO $dst")
    dropRetired(spark, retiring)
  }

  /** Drop a retired copy WITHOUT touching data outside its own moved
    * directory: a catalog rename moves the table DIRECTORY but leaves
    * partition entries pointing at the pre-rename location — which is
    * the replacement's directory once the swap completes — so a plain
    * DROP of a partitioned retired table would purge the replacement's
    * files. Drop the partition METADATA first (retainData), then the
    * table (which deletes only its own, already-moved directory). */
  private def dropRetired(spark: SparkSession, retiring: String): Unit =
    if (spark.catalog.tableExists(retiring)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(retiring))
      if (meta.partitionColumnNames.nonEmpty) {
        val cat = spark.sharedState.externalCatalog
        val db = spark.sessionState.catalog.getCurrentDatabase
        val specs = cat.listPartitions(db, retiring).map(_.spec)
        if (specs.nonEmpty)
          cat.dropPartitions(db, retiring, specs, ignoreIfNotExists = true,
            purge = false, retainData = true)
      }
      resetWarehouseTable(spark, retiring)
    } else resetWarehouseTable(spark, retiring)

  /** Roll back a swap that crashed between its two renames: the live
    * name is missing but the full store sits under `dst_retiring`. */
  private[graft] def recoverTableSwap(spark: SparkSession,
                                      dst: String): Unit =
    if (!spark.catalog.tableExists(dst) &&
        spark.catalog.tableExists(dst + "_retiring"))
      spark.sql(s"ALTER TABLE ${dst + "_retiring"} RENAME TO $dst"): Unit

  /** Register an externally-created local path (e.g. a bucketed table's
    * warehouse dir, whose session-unique name would otherwise outlive the
    * JVM that can drop it) with the shutdown reaper. */
  private[graft] def registerForCleanup(path: String): Unit = {
    reaper
    scratchPaths.add(path): Unit
  }

  /** Drop-and-delete a warehouse table so an overwrite is idempotent even
    * though the in-memory catalog forgets tables across sessions while
    * their warehouse dirs persist; LOCAL warehouse dirs also register with
    * the shutdown reaper (session-unique names mean no later run ever
    * overwrites them — without the reaper every JVM would leak its tables
    * into the warehouse dir). Shared by every bucketed-layout builder. */
  private[graft] def resetWarehouseTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(wh, true): Unit
    // the reaper deletes via java.io.File, so only LOCAL warehouse dirs
    // are registered — and as absolute paths, so the delete never depends
    // on shutdown-time CWD. A remote warehouse (hdfs/s3a) is the cluster
    // operator's lifecycle to manage.
    val qualified = fs.makeQualified(wh).toUri
    if (qualified.getScheme == "file")
      registerForCleanup(new java.io.File(qualified).getAbsolutePath)
  }

  /** The reference's label-CSV schema (FIXTURES.md §A1): path key + 5-label
    * vector. */
  val labelCsvSchema: StructType = StructType(Seq(
    StructField("Path", StringType, nullable = false),
    StructField("Cardiomegaly", DoubleType),
    StructField("Pneumonia", DoubleType),
    StructField("Lung Opacity", DoubleType),
    StructField("Edema", DoubleType),
    StructField("Consolidation", DoubleType)))

  /** S1 — distributed CSV scan with explicit schema. Works identically on
    * one file or a 100 TB directory tree. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S2 — shard-directory ingest: Spark's file index reads every shard in
    * the directory natively (UNION ALL semantics without driver concat). */
  def csvShards(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    csv(spark, dir, schema)

  /** S3 — binary-file source: path + modificationTime + content bytes as
    * proper columns, replacing read-inside-UDF. `pathGlobFilter` prunes at
    * the file index, before any bytes move.
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** q39 — S1+S2+W1 exercised end-to-end: project orders, sink it as a
    * headered multi-shard CSV directory, re-read the directory with an
    * explicit schema (no inference pass), and aggregate. The aggregate is
    * identical to aggregating the source table directly, which is exactly
    * what the oracle checks — proving the CSV round-trip is lossless
    * (Spark writes doubles in shortest-round-trip form).
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "csv_roundtrip")
    graft.Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartition(4) // a real shard directory, not a single file
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    csvShards(spark, out, schema)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** q48 — JSONL round-trip: documents sunk as multi-shard JSON Lines (the
    * de-facto LLM training-corpus interchange format) and re-read with an
    * explicit schema — no inference pass, which on a 100 TB corpus would
    * mean reading everything twice. The aggregate matches the source
    * table, proving the round-trip is lossless.
    */
  def jsonlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "jsonl_roundtrip")
    graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("text", StringType)))
    spark.read.schema(schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc_id"))
  }

  /** q81 — SCHEMA EVOLUTION across shard generations: a long-lived corpus
    * sink whose later shards carry a column (`source`) the early shards
    * predate — the steady state of any ingest directory that outlives one
    * schema. The read declares the EXPLICIT superset schema: parquet
    * fills the column with nulls where a file lacks it, and no footer-
    * merge pass runs — the 100 TB-safe form (`mergeSchema=true` gives the
    * same relation by reconciling every file footer instead, validated
    * equal by spec; declaring the superset skips that metadata pass and
    * pins the types besides). Downstream the null IS the signal: rows
    * from pre-evolution shards roll up under their own bucket.
    */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "schema_evolution")
    val docs = graft.Tables.table(spark, dir, "documents")
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$out/gen0")
    docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("lang"), col("text"), col("source"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$out/gen1")
    val superset = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("text", StringType),
      StructField("source", StringType)))
    spark.read.schema(superset).parquet(s"$out/gen0", s"$out/gen1")
      .groupBy(coalesce(col("source"), lit("pre-evolution")).as("src"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        sum(length(col("text"))).cast("long").as("n_chars"))
  }

  /** q82 — CORRUPT-RECORD JSONL ingest: real corpus dumps carry malformed
    * lines (truncated writes, encoding damage, concatenated objects), and
    * a 100 TB ingest cannot abort on them — it must KEEP them, counted
    * and quarantined, while the good rows flow. The fixture plants
    * truncated JSON on doc_id % 13 = 0 at the TEXT layer (the corruption
    * a reader actually sees), then reads PERMISSIVE with
    * `columnNameOfCorruptRecord`: parseable lines populate the declared
    * schema, damaged lines land whole in the quarantine column with nulls
    * elsewhere. The rollup counts good docs per language plus one
    * `_corrupt_` bucket — the ingest-health report. FAILFAST is the same
    * reader aborting instead (spec-pinned); DROPMALFORMED would discard
    * the evidence silently.
    */
  def corruptJsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "corrupt_jsonl")
    val docs = graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
    // damage: drop the closing quote + brace, unparseable by any reader
    docs.select(col("doc_id"), line.as("l"))
      .select(
        when(col("doc_id") % 13 === 0,
          expr("substring(l, 1, length(l) - 2)")).otherwise(col("l")).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType),
      StructField("_damaged", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_damaged")
      .json(out)
      .groupBy(when(col("_damaged").isNotNull, lit("_corrupt_"))
        .otherwise(col("lang")).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** q50 — ORC round-trip: the third columnar interchange format next to
    * parquet and JSONL. Same explicit-schema discipline; the aggregate
    * matches the source table, proving losslessness (ORC carries its own
    * schema, but declaring ours pins the types the engine expects).
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "orc_roundtrip")
    graft.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .repartition(4)
      .write.mode("overwrite").orc(out)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType)))
    spark.read.schema(schema).orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** q53 — S4's engine form: nested struct-of-tensors parquet ingest. The
    * reference ships dicts of tensors as pickles
    * (/root/reference/utils/pkl_to_png_converter.py:12-16, a saliency-map
    * dict); the engine's interchange for that shape is a parquet struct of
    * array<float> fields — columnar, splittable, schema-checked, readable
    * by every engine, none of which pickle is. A saliency-dict-shaped
    * table is derived deterministically from documents (values are whole
    * 0..99 floats, so sums are float-exact and oracle-comparable), sunk as
    * parquet, re-read with an explicit NESTED schema, and the tensors
    * aggregated in-row.
    */
  def structParquetRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "struct_roundtrip")
    def tensor(mulA: Int, mulB: Int) =
      transform(sequence(lit(0), lit(7)),
        i => pmod(col("doc_id") * mulA + i * mulB, lit(100)).cast("float"))
    graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        struct(tensor(13, 7).as("saliency"), tensor(29, 11).as("attention")).as("maps"))
      .write.mode("overwrite").parquet(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("maps", StructType(Seq(
        StructField("saliency", ArrayType(FloatType)),
        StructField("attention", ArrayType(FloatType)))))))
    def sumT(c: Column) =
      aggregate(c, lit(0.0), (a, x) => a + x.cast("double")).cast("long")
    spark.read.schema(schema).parquet(out)
      .select(col("doc_id"),
        sumT(col("maps.saliency")).as("saliency_sum"),
        sumT(col("maps.attention")).as("attention_sum"))
  }

  /** q54 — S1 exercised on the reference's OWN label schema
    * ([[labelCsvSchema]]; /root/reference/src/federated_learning_pipeline.py:29-33):
    * a deterministic CheXpert-shaped 5-label frame derived from documents
    * is sunk as headered CSV shards, re-read through the declared schema
    * (no inference pass), and assembled into the per-row label VECTOR the
    * training pipeline consumes (J2 — the q45 form on the reference's real
    * ingest shape).
    */
  def labelCsvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "label_csv")
    graft.Tables.table(spark, dir, "documents")
      .select(
        concat(lit("corpus/"), col("source"), lit("/"),
          col("doc_id").cast("string"), lit(".jpg")).as("Path"),
        (col("doc_id") % 2).cast("double").as("Cardiomegaly"),
        (col("doc_id") % 3 === 0).cast("double").as("Pneumonia"),
        (col("doc_id") % 5 === 0).cast("double").as("Lung Opacity"),
        (col("doc_id") % 7 === 0).cast("double").as("Edema"),
        lit(0.0).as("Consolidation"))
      .repartition(4)
      .write.mode("overwrite").option("header", "true").csv(out)
    csv(spark, out, labelCsvSchema)
      .select(col("Path").as("path"),
        posexplode(array(col("Cardiomegaly"), col("Pneumonia"),
          col("Lung Opacity"), col("Edema"), col("Consolidation"))))
      .toDF("path", "dim", "label")
      .select(col("path"), col("dim").cast("long").as("dim"), col("label"))
  }

  /** q90 — HIVE-PARTITIONED WRITE + PARTITION-PRUNED READ: the layout
    * decision that makes per-language (or per-source, per-date) corpus
    * queries cheap at 100 TB. The sink writes `partitionBy(lang)` — one
    * directory per language, the partition key carried by the PATH, not
    * the data files — and the read-back filter on lang becomes a
    * PartitionFilter: pruned at the file index, so non-matching
    * partitions' files are never opened, listed row-groups never read.
    * (The plan-shape spec pins PartitionFilters non-empty and the scan
    * reading only the `lang=en` directory.) The aggregate equals the same
    * aggregate over the source table restricted to the language — the
    * oracle — proving the partitioned round-trip loses nothing.
    */
  def partitionedPrunedRead(spark: SparkSession, dir: String,
                            lang: String = "en"): DataFrame = {
    val out = scratchDir(spark, "partitioned_lang")
    graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .filter(col("lang") === lang)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc_id"))
  }

  /** q91 — MERGE/UPSERT SNAPSHOT: the metadata-table maintenance verb
    * (dedup registries, document stores, label tables all need it) spelled
    * out on plain parquet — MERGE INTO without a table format: base
    * snapshot ⟕⟖ updates on the key, matched rows take the update's
    * payload, unmatched updates insert, untouched base rows carry over,
    * and the result is written as the NEXT immutable snapshot (readers of
    * v1 are never disturbed — the atomicity story table formats wrap in a
    * manifest swap). One full-outer sort-merge join on the key is the
    * whole cost; at 100 TB both sides bucket by the key (the q66
    * discipline) and the join is exchange-free.
    *
    * Fixture: base = docs with doc_id % 3 != 0 at version 1; updates =
    * even docs with revised text at version 2 — so the merge exercises
    * all three row fates (update, insert, carry-over).
    */
  def mergeUpsertSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, "merge_snapshot")
    val docs = graft.Tables.table(spark, dir, "documents")
    docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"), lit(1L).as("version"))
      .write.mode("overwrite").parquet(s"$out/v1")
    val base = spark.read.parquet(s"$out/v1")
    val updates = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
        lit(2L).as("version"))
    base.select(col("doc_id").as("b_id"), col("text").as("b_text"),
        col("version").as("b_version"))
      .join(updates.select(col("doc_id").as("u_id"), col("text").as("u_text"),
        col("version").as("u_version")), col("b_id") === col("u_id"), "full_outer")
      .select(coalesce(col("u_id"), col("b_id")).as("doc_id"),
        coalesce(col("u_text"), col("b_text")).as("text"),
        coalesce(col("u_version"), col("b_version")).as("version"))
      .write.mode("overwrite").parquet(s"$out/v2")
    spark.read.parquet(s"$out/v2")
      .select(col("doc_id"), col("version"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** W9 [EXT] — RIGHT-TO-ERASURE REWRITE + TOMBSTONE AUDIT: the GDPR
    * Art. 17 verb — purge every row of the named data subjects from an
    * immutable snapshot and PROVE it. The rewrite is one anti-join
    * against the (broadcastable) erasure set into a fresh snapshot; a
    * tombstone sidecar records per subject how many rows were erased
    * (the processing record Art. 30 wants — counts, never content: a
    * tombstone carrying the deleted payload would itself be a
    * violation). The registered audit is computed from the FILES READ
    * BACK — per erased subject, the tombstoned row count and the rows
    * still present in the rewritten snapshot, with `purged` demanded
    * true — so a green row proves the erasure landed on disk, not that
    * an anti-join works in memory. Erasure set = user_id % 13 (the q85
    * damage-derived-from-id discipline) so the oracle re-derives every
    * count with no knowledge of the scratch files.
    *
    * Scale: the erasure set broadcasts (it is \|subjects\|-sized by
    * definition); the rewrite is one scan + anti-join + write; the
    * remaining-rows check semi-joins the rewritten snapshot against the
    * tombstone keys — at 100 TB this is the same full-rewrite cost every
    * non-transactional lake pays for deletes (the motivation for
    * deletion vectors, noted, not implemented).
    */
  def rightToErasure(spark: SparkSession, dir: String): DataFrame =
    rightToErasureAt(spark, dir, scratchDir(spark,
      s"erasure_snapshot_${java.util.UUID.randomUUID.toString.take(8)}"))

  /** [[rightToErasure]] against an explicit snapshot root — the registry
    * wrapper appends a UUID (two concurrent sessions must not race on one
    * delete-then-write scratch dir); the spec passes its own path instead
    * of scanning tmpdir for the newest match. */
  private[graft] def rightToErasureAt(spark: SparkSession, dir: String,
                                      out: String): DataFrame = {
    val ev = graft.Tables.table(spark, dir, "events")
    // null-safe on purpose: a bare `user_id % 13 === 0` is null for a null
    // user_id, so BOTH filter(erase) and filter(!erase) would drop the row
    // — silent deletion without a tombstone, the one failure mode an
    // auditable erasure rewrite must not have. Null-keyed rows are not in
    // any erasure set → retained.
    val erase = coalesce(col("user_id") % 13 === 0, lit(false))
    ev.filter(!erase)
      .write.mode("overwrite").parquet(s"$out/v2")
    ev.filter(erase)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows_erased"))
      .write.mode("overwrite").parquet(s"$out/tombstones")
    val tomb = spark.read.parquet(s"$out/tombstones")
    val remaining = spark.read.parquet(s"$out/v2")
      .join(broadcast(tomb.select(col("user_id"))), Seq("user_id"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_rem"))
    tomb.join(remaining, Seq("user_id"), "left")
      .select(col("user_id"), col("n_rows_erased"),
        coalesce(col("n_rem"), lit(0L)).as("n_remaining"),
        (coalesce(col("n_rem"), lit(0L)) === 0L).as("purged"))
  }

  /** W11 [EXT] — SNAPSHOT RETENTION VACUUM: the lakehouse VACUUM verb —
    * a versioned dataset accumulates immutable snapshots; retention
    * keeps the newest K and physically deletes the rest, and the audit
    * proves WHICH from the storage itself: the version MANIFEST (a
    * metadata table listing every version ever written — the engine's
    * stand-in for a transaction log) is joined against the physical
    * directory listing, so a version is `kept` only if its files are
    * actually present, and a kept version's row/char counts come from
    * reading those files BACK (the q155 round-trip contract). Versions
    * are the q91/q100 lineage extended two steps, all deterministic
    * transforms of the base table so the oracle re-derives every count:
    *   v1 = docs with doc_id % 3 ≠ 0
    *   v2 = v1 with " [rev2]" appended for even doc_id   (q91's merge)
    *   v3 = v2 minus doc_id % 5 = 0                      (a purge release)
    *   v4 = v3 with " [rev4]" appended for doc_id % 7 = 0
    * Retention 2 ⇒ v1, v2 vacuumed; v3, v4 kept.
    *
    * Scale: each snapshot write is one scan (immutable, columnar);
    * vacuum is a metadata-sized listing + directory deletes — NO data
    * read; the audit reads only the KEPT versions. Re-vacuum is
    * idempotent (deleting absent dirs is a no-op) — spec-pinned.
    */
  def snapshotVacuum(spark: SparkSession, dir: String,
                     retain: Int = 2): DataFrame = {
    require(retain >= 1, s"need retain >= 1; got $retain")
    val root = scratchDir(spark,
      s"vacuum_${java.util.UUID.randomUUID.toString.take(8)}")
    val docs = graft.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 3 =!= 0)
    val v2 = v1.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text")).as("text"))
    val v3 = v2.filter(col("doc_id") % 5 =!= 0)
    val v4 = v3.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev4]")))
        .otherwise(col("text")).as("text"))
    val versions = Seq(1 -> v1, 2 -> v2, 3 -> v3, 4 -> v4)
    versions.foreach { case (v, df) =>
      df.write.mode("overwrite").parquet(s"$root/version=$v")
    }
    import spark.implicits._
    versions.map(_._1).toDF("version")
      .write.mode("overwrite").parquet(s"$root/_versions")
    vacuumAndAudit(spark, root, retain)
  }

  /** The vacuum + audit over an existing versioned root: delete all but
    * the newest `retain` versions listed in the manifest, then report
    * every manifest version with its physical survival and read-back
    * stats. Exposed separately so the spec can re-vacuum (idempotence). */
  private[graft] def vacuumAndAudit(spark: SparkSession, root: String,
                                    retain: Int): DataFrame = {
    import spark.implicits._
    val manifest = spark.read.parquet(s"$root/_versions")
      .select(col("version").cast("int")).as[Int].collect().sorted
    val keep = manifest.takeRight(retain).toSet
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifest.filterNot(keep).foreach { v =>
      fsys.delete(new org.apache.hadoop.fs.Path(root, s"version=$v"), true): Unit
    }
    manifest.toSeq.map { v =>
      val p = new org.apache.hadoop.fs.Path(root, s"version=$v")
      if (fsys.exists(p))
        spark.read.parquet(p.toString)
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"))
          .select(lit(v).as("version"), lit(true).as("kept"),
            col("n_docs"), col("n_chars"))
      else
        Seq((v, false, 0L, 0L)).toDF("version", "kept", "n_docs", "n_chars")
    }.reduce(_.unionByName(_))
  }

  /** W12 [EXT] — SUBJECT ACCESS REPORT (GDPR Art. 15): the READ-side twin
    * of the erasure verbs (W9/W10) completing the data-subject-rights
    * surface: for every subject in the request set, what the store holds
    * about them — row count, activity span (unix millis — timestamps as
    * integers so the report is engine-exact), distinct event types, and
    * the purchase count (the "profiling" field an Art. 15 response must
    * disclose). Request set = user_id % 13 = 3 (the q85/q177
    * derivable-from-id discipline). Null-keyed rows belong to NO subject
    * and never appear — the same null-safety contract as W9.
    *
    * Scale: ONE filtered scan (the request predicate pushes to the
    * parquet scan) + a map-side-combined agg on the subject key; a
    * request set arriving as a table instead of a predicate becomes a
    * broadcast semi-join, same shape.
    */
  def subjectAccessReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    ev.filter(coalesce(col("user_id") % 13 === 3, lit(false)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("first_ms"),
        max(unix_millis(col("ts"))).as("last_ms"),
        countDistinct(col("event_type")).as("n_event_types"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
  }

  /** q100 — SNAPSHOT DIFF: the dataset-versioning report between two
    * immutable snapshots (q91's v1/v2 lineage re-derived so the oracle can
    * replay it): rows are classified added / removed / changed / unchanged
    * by a full-outer join on the key comparing content hashes — the audit
    * a data release publishes next to the new snapshot. One SMJ on the
    * key (bucket both snapshots at 100 TB per the q46 discipline and it is
    * exchange-free) + per-row hash compare + a hash agg on the 4-value
    * status key; no snapshot ever collects.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.table(spark, dir, "documents")
    // v1/v2 per q91's merge lineage: v1 drops doc_id % 3 = 0; v2 = v1
    // merged with the " [rev2]" updates of every even doc_id
    val v1 = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))
    val updates = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
    val v2 = v1.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      .join(updates.select(col("doc_id").as("u_id"), col("text").as("u_text")),
        col("b_id") === col("u_id"), "full_outer")
      .select(coalesce(col("u_id"), col("b_id")).as("doc_id"),
        coalesce(col("u_text"), col("b_text")).as("text"))
    v1.select(col("doc_id"), sha2(col("text"), 256).as("h1"))
      .join(v2.select(col("doc_id"), sha2(col("text"), 256).as("h2")),
        Seq("doc_id"), "full_outer")
      .select(
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** W13 [EXT] — BUCKETED SNAPSHOT DIFF: q100's diff given the layout its
    * own scaladoc promises at 100 TB — both snapshot versions land as
    * tables bucketed AND sorted on the key, so the full-outer key join is
    * a zero-Exchange sort-merge (the q46/q66 bucketing discipline applied
    * to the versioning family): at 100 TB the diff's cost is the two
    * scans, not a 2×-corpus shuffle, and the layout is REUSED by every
    * future diff against either version. Rows are identical to q100 by
    * construction (bucketing changes the shuffle, never the answer), so
    * the oracle is q100's SQL verbatim — and the spec pins the actual
    * plan: zero Exchange nodes on the join, SortMergeJoin present.
    */
  def snapshotDiffBucketed(spark: SparkSession, dir: String,
                           nBuckets: Int = 8): DataFrame = {
    val docs = graft.Tables.table(spark, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))
    val updates = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
    val v2 = v1.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      .join(updates.select(col("doc_id").as("u_id"), col("text").as("u_text")),
        col("b_id") === col("u_id"), "full_outer")
      .select(coalesce(col("u_id"), col("b_id")).as("doc_id"),
        coalesce(col("u_text"), col("b_text")).as("text"))
    resetWarehouseTable(spark, "graft_snapdiff_v1")
    resetWarehouseTable(spark, "graft_snapdiff_v2")
    Seq(("graft_snapdiff_v1", v1), ("graft_snapdiff_v2", v2)).foreach {
      case (t, df) =>
        df.select(col("doc_id"), sha2(col("text"), 256).as("h"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(nBuckets, "doc_id").sortBy("doc_id").saveAsTable(t)
    }
    bucketedDiffJoin(spark)
  }

  /** The Exchange-free diff tail over the two bucketed version tables
    * (exposed so the spec can pin the executed plan). */
  private[graft] def bucketedDiffJoin(spark: SparkSession): DataFrame =
    spark.table("graft_snapdiff_v1").select(col("doc_id"), col("h").as("h1"))
      .join(spark.table("graft_snapdiff_v2")
          .select(col("doc_id"), col("h").as("h2")),
        Seq("doc_id"), "full_outer")
      .select(
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))

  /** q40 — S3 exercised: the fixture parquet itself read as opaque binary.
    * The oracle re-reads the same file with DuckDB's read_blob and checks
    * name + byte length; exact byte-content equality (sha-256 vs a direct
    * filesystem read) is asserted in SourcesSpec — DuckDB 1.0's sha256()
    * only accepts VARCHAR, so the hash is not oracle-expressible.
    */
  def binarySourceStats(spark: SparkSession, dir: String): DataFrame =
    binaryFiles(spark, dir, glob = "documents.parquet")
      .select(
        substring_index(col("path"), "/", -1).as("file_name"),
        col("length").as("n_bytes"))

  /** W8 [EXT] — SIZE-TARGETED JSONL SHARD EXPORT: the "publish the
    * training corpus" verb. Documents are laid out in doc_id order, cut
    * into shards of ≈`targetBytes` of text payload (shard = exclusive
    * running byte total div targetBytes — a doc never splits, so shards
    * overshoot by at most one doc: the size-targeted-not-size-exact
    * contract every dataset release format uses), physically WRITTEN as
    * `shard=N/` JSONL partitions, and the returned manifest — shard id,
    * doc count, byte total, doc_id span — is computed from the files READ
    * BACK, so a green row proves the export round-trips losslessly, not
    * just that the assignment arithmetic is right.
    *
    * The running byte total is the q84 two-level prefix sum (block
    * totals → one bounded-size unpartitioned window → in-block window),
    * never a global single-partition sort; the write shuffles once on the
    * shard key (`repartition(shard)` — one task per output shard, the
    * layout a training loader wants). Bytes = `length(text)` (the payload
    * proxy; JSONL framing overhead is format-dependent and excluded by
    * contract). Fully oracle-checked: DuckDB recomputes the assignment
    * with one cumulative window at fixture scale.
    */
  /** The shard-assignment core shared by the batch export and its
    * streaming twin: (doc_id, lang, text, shard) where shard = (baseBytes
    * + exclusive running byte total in doc_id order) div targetBytes —
    * the q84 two-level prefix sum, offset by the bytes of everything
    * already exported (0 for a whole-corpus batch; the cross-batch state
    * of the streaming form). */
  private[graft] def shardAssign(docs0: DataFrame, targetBytes: Long,
                                 blockSize: Long,
                                 baseBytes: Long = 0L): DataFrame = {
    require(targetBytes >= 1L && blockSize >= 1L,
      s"need targetBytes>=1, blockSize>=1; got $targetBytes/$blockSize")
    import org.apache.spark.sql.expressions.Window
    def idiv(c: Column, d: Long) = call_function("div", c, lit(d))
    val docs = docs0
      .select(col("doc_id"), col("lang"), col("text"),
        length(col("text")).cast("long").as("b"))
      .withColumn("block", idiv(col("doc_id"), blockSize))
    val blockPrefix = docs.groupBy(col("block"))
      .agg(sum(col("b")).as("block_total"))
      .withColumn("block_prefix",
        coalesce(sum(col("block_total")).over(
          Window.orderBy(col("block"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("block"), col("block_prefix"))
    val inBlock = Window.partitionBy(col("block")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("within", coalesce(sum(col("b")).over(inBlock), lit(0L)))
      .join(broadcast(blockPrefix), "block")
      .withColumn("shard",
        idiv(lit(baseBytes) + col("block_prefix") + col("within"), targetBytes))
      .select(col("doc_id"), col("lang"), col("text"), col("shard"))
  }

  /** Manifest over a written shard layout read BACK: per shard, doc
    * count, byte total, doc_id span — shared by the batch export and the
    * streaming twin (whose layout nests shards under ingest_batch
    * partitions; the regexp keys on the shard segment either way). */
  private[graft] def shardManifest(spark: SparkSession, out: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("text", StringType)))
    spark.read.schema(schema).json(out)
      .withColumn("shard",
        regexp_extract(input_file_name(), "shard=(\\d+)", 1).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  def jsonlShardExport(spark: SparkSession, dir: String,
                       targetBytes: Long = 16384L,
                       blockSize: Long = 64L): DataFrame = {
    val assigned = shardAssign(
      graft.Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")),
      targetBytes, blockSize)
    val out = scratchDir(spark, "jsonl_export")
    assigned.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").json(out)
    shardManifest(spark, out)
  }

  // --- Multi-dimension clustering (Z-order) + zone-map skipping ---------
  //
  // W5/q90 prunes on ONE path-carried key; the layout question the rest
  // of the warehouse faces is multi-column: queries filter lineitem by
  // part OR by supplier, and a layout sorted by one key gives the other
  // full-scan cost. The lakehouse answer (OPTIMIZE ... ZORDER BY) is to
  // cluster files along the Morton interleave of both keys' bucket bits,
  // so every file covers a small rectangle of the (part, supplier) grid
  // and a zone map (per-file min/max, the stats every parquet footer and
  // table format already carries) can skip most files for a point or
  // range predicate on EITHER column.
  //
  // Everything here is exact integer arithmetic so the layout decision is
  // DuckDB-replayable (the oracle re-derives file assignment, zone maps,
  // and skip counts from the raw table): buckets are fixed-width over the
  // column's [min, max] via `div` (production Z-order uses sampled range
  // boundaries for skew; fixed-width keeps the oracle exact and the
  // fixture keys are near-uniform — declared), the Morton code interleaves
  // the two bucket ids' bits, and a file is the top `fileBits` bits of
  // the code. The audit writes BOTH layouts (single-column `linear` =
  // partkey buckets, the sorted-by-one-key incumbent; `zorder`), reads
  // the files BACK to build each layout's zone map, and fires the same
  // deterministic probe set at both: `files_skipped` counts (file, probe)
  // pairs where the probed value falls outside the file's [min, max] for
  // that dimension.
  //
  // Expected shape (bits=4, fileBits=4 → a 4×4 grid of 16 files): linear
  // skips 15/16 per partkey probe and ~0 for suppkey; zorder skips 12/16
  // on BOTH — the trade the operator exists to make. At 100 TB the cost
  // is one bounds agg + one map-side code assignment + the clustered
  // write's shuffle (paid once per OPTIMIZE, not per query); the audit
  // side is |files|·|probes|-bounded, driver-trivial at any corpus size.

  /** Morton interleave of two `bits`-bit bucket ids: bit i of `bp` lands
    * at 2i+1, bit i of `bs` at 2i — partkey is the senior dimension, same
    * tie-break the oracle SQL spells out. */
  private[graft] def mortonCode(bp: Column, bs: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(bp, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bs, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))

  /** q205 — Z-ORDER CLUSTERING + ZONE-MAP SKIPPING AUDIT (see the block
    * comment above). Returns one row per (layout, dim): the zone-map
    * probe outcome and the integer span mass of that dimension's
    * per-file ranges — `span_sum` ≈ `n_files`·domain/4 for zorder vs
    * ≈ domain for linear/partkey (tight everywhere vs tight on one key),
    * all BIGINT so the oracle compare is exact. */
  def zorderSkippingAudit(spark: SparkSession, dir: String,
                          bits: Int = 4, fileBits: Int = 4,
                          nProbes: Int = 8): DataFrame = {
    require(bits >= fileBits && bits <= 16, s"need fileBits <= bits <= 16")
    val nb = 1L << bits
    val li = graft.Tables.table(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val b = li.agg(min(col("pk")), max(col("pk")),
                   min(col("sk")), max(col("sk"))).head()
    val (pmin, pmax, smin, smax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    def bucket(c: Column, lo: Long, hi: Long): Column =
      call_function("div", (c - lit(lo)) * lit(nb), lit(hi - lo + 1L))
    val coded = li
      .withColumn("bp", bucket(col("pk"), pmin, pmax))
      .withColumn("bs", bucket(col("sk"), smin, smax))
      .withColumn("file_lin", shiftright(col("bp"), bits - fileBits))
      .withColumn("file_z",
        shiftright(mortonCode(col("bp"), col("bs"), bits), 2 * bits - fileBits))
    val assigned = coded
      .select(lit("linear").as("layout"), col("file_lin").as("file_id"),
        col("pk"), col("sk"))
      .unionByName(coded.select(lit("zorder").as("layout"),
        col("file_z").as("file_id"), col("pk"), col("sk")))
    // per-call sequence: two concurrent q205 invocations in one session
    // must never overwrite each other's layout mid-read
    val out = scratchDir(spark, s"zorder_layout_${spillSeq.incrementAndGet()}")
    // The clustered write: repartition on the file key so each zone is
    // one task's output, hive layout so the file key rides the path.
    assigned.repartition(col("layout"), col("file_id"))
      .write.mode("overwrite").partitionBy("layout", "file_id").parquet(out)
    // Zone maps from the files READ BACK — a mis-clustered write would
    // diverge from the oracle's logical derivation here.
    val zones = spark.read.parquet(out)
      .groupBy(col("layout"), col("file_id"))
      .agg(min(col("pk")).as("p_lo"), max(col("pk")).as("p_hi"),
           min(col("sk")).as("s_lo"), max(col("sk")).as("s_hi"))
    val zoneDims = zones
      .select(col("layout"), col("file_id"), lit("partkey").as("dim"),
        col("p_lo").as("f_lo"), col("p_hi").as("f_hi"))
      .unionByName(zones.select(col("layout"), col("file_id"),
        lit("suppkey").as("dim"), col("s_lo").as("f_lo"),
        col("s_hi").as("f_hi")))
    // Deterministic probe set: nProbes mid-stride points per dimension.
    def probesFor(dim: String, lo: Long, hi: Long): DataFrame =
      spark.range(nProbes).select(lit(dim).as("dim"),
        (lit(lo) + call_function("div",
          (col("id") * 2L + 1L) * lit(hi - lo + 1L),
          lit(2L * nProbes))).as("probe_v"))
    val probes = probesFor("partkey", pmin, pmax)
      .unionByName(probesFor("suppkey", smin, smax))
    zoneDims.join(probes, Seq("dim"))
      .groupBy(col("layout"), col("dim"))
      .agg(
        (count(lit(1)) / lit(nProbes)).cast("long").as("n_files"),
        count(lit(1)).as("probe_total"),
        sum(when(col("probe_v").between(col("f_lo"), col("f_hi")), 1L)
          .otherwise(0L)).as("probe_hits"),
        (call_function("div", sum(col("f_hi") - col("f_lo") + 1L),
          lit(nProbes.toLong))).as("span_sum"))
      .select(col("layout"), col("dim"), col("n_files"), col("probe_total"),
        col("probe_hits"),
        (col("probe_total") - col("probe_hits")).as("files_skipped"),
        col("span_sum"))
  }

  // --- File-level Bloom skipping ----------------------------------------
  //
  // The zone map (q205) prunes predicates CORRELATED with file order —
  // range scans on a clustered key. Its blind spot is the other common
  // shape: a point lookup on a key scattered uniformly across every file
  // (lineitem filtered by one part, files laid down in orderkey ingest
  // order), where every file's [min, max] straddles every probe and the
  // zone map skips nothing. The lakehouse answer is the per-file Bloom
  // filter (Parquet bloom_filter_enabled, Delta bloom indexes): k hash
  // positions per key OR-ed into an m-bit set per file; a probe opens a
  // file only if ALL k of its positions are set. False positives cost a
  // wasted file read; false negatives cannot happen — the superset
  // invariant the spec pins set-wise.
  //
  // Everything is exact integer arithmetic so the oracle re-derives the
  // index and every decision from the raw table: file assignment is the
  // q205 fixed-width bucket of the INGEST key (orderkey — uncorrelated
  // with the probe key by construction), the k hash functions are
  // multiplicative (key · odd-constant, masked to 31 bits, masked to the
  // m-bit table — public Knuth/xxhash-style constants), and the "bitset"
  // is materialized relationally as the distinct (file_id, pos) table —
  // exactly the shape a real sidecar compresses to m/8 bytes per file.
  // Present probes are mid-stride RANKS of the distinct key domain (rank,
  // not value — ScaleUp's replica key-shift leaves value-stride holes);
  // absent probes sit past the domain maximum. The probe-selection window
  // is audit machinery over the nProbes-bounded output, not the operator's
  // scale path (declared).
  //
  // Scale: the index is ONE scan + a groupBy bounded by files · m; the
  // probe side joins |probes| · k rows against it — metadata-sized both
  // ways. The audit's deliverable is the measured false-positive count,
  // the number that sizes m (bits per key) before anyone pays for it at
  // 100 TB.

  /** The k multiplicative hash positions of `key` in an `mBits`-slot
    * table (mBits must be a power of two): the HIGH log2(mBits) bits of
    * the 31-bit product — ((key · A_i) & 0x7FFFFFFF) >> (31 − log2 mBits),
    * A_i the public Knuth/xxhash odd constants. High bits, not low:
    * Knuth's multiplicative scheme mixes a key's entropy UPWARD, so the
    * low bits of key·A depend only on key mod 2^b — masking them (the
    * pre-r15 bug) made any two keys congruent mod mBits collide in ALL
    * k hashes, a structural FP floor once the key domain exceeds mBits
    * (exactly the sf1+ scale the index argues for). */
  private val BloomA = Seq(2654435761L, 2246822519L, 3266489917L)
  private[graft] def bloomShift(mBits: Int): Int =
    31 - java.lang.Integer.numberOfTrailingZeros(mBits)
  private[graft] def bloomPositions(key: Column, mBits: Int,
                                    kHashes: Int): Seq[Column] =
    BloomA.take(kHashes).map(a =>
      shiftright((key * lit(a)).bitwiseAND(lit(0x7FFFFFFFL)),
        bloomShift(mBits)))

  /** q206 — FILE-LEVEL BLOOM SKIPPING AUDIT (see the block comment
    * above): one row per probe key — the exact number of files holding
    * it, the number the Bloom index would open, and the false-positive
    * gap, all BIGINT. */
  def bloomSkippingAudit(spark: SparkSession, dir: String,
                         nFiles: Int = 64, mBits: Int = 65536,
                         kHashes: Int = 3, nProbes: Int = 8): DataFrame = {
    require((mBits & (mBits - 1)) == 0, "mBits must be a power of two")
    require(kHashes >= 1 && kHashes <= BloomA.size)
    val li = graft.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok")), max(col("pk"))).head()
    val (omin, omax, pmax) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val rows = li.withColumn("file_id",
      call_function("div", (col("ok") - lit(omin)) * lit(nFiles.toLong),
        lit(omax - omin + 1L)))
    // the Bloom index (per-file set-position relation) and the probe set
    // are deterministic fixture STATE — a pure function of the audit's
    // geometry — so they build once per session (r22); the probe-side
    // membership computation below is the audited operator and stays live
    val root = ensureStore(spark, "blsk",
        s"$dir|$nFiles|$mBits|$kHashes|$nProbes") { r =>
      rows.select(col("file_id"),
          explode(array(bloomPositions(col("pk"), mBits, kHashes): _*))
            .as("pos"))
        .distinct()
        .write.mode("overwrite").parquet(s"$r/idx")
      // present probes by mid-stride rank of the distinct key domain
      val dk = rows.select(col("pk")).distinct()
      val nKeys = dk.count()
      val ranks = (0 until nProbes)
        .map(j => (2L * j + 1L) * nKeys / (2L * nProbes) + 1L)
      dk.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("pk"))))
        .filter(col("rn").isin(ranks: _*))
        .select(col("pk").as("probe_key"), lit(true).as("is_present"))
        .unionByName(spark.range(nProbes)
          .select((lit(pmax) + col("id") + 1L).as("probe_key"),
            lit(false).as("is_present")))
        .write.mode("overwrite").parquet(s"$r/probes")
    }
    val idx = spark.read.schema("file_id BIGINT, pos BIGINT")
      .parquet(s"$root/idx")
    val probes = spark.read.schema("probe_key BIGINT, is_present BOOLEAN")
      .parquet(s"$root/probes")
    val probePos = probes.select(col("probe_key"),
      explode(array(bloomPositions(col("probe_key"), mBits, kHashes): _*))
        .as("pos")).distinct()
    val nPos = probePos.groupBy(col("probe_key"))
      .agg(count(lit(1)).as("n_pos"))
    // a file bloom-matches a probe iff ALL the probe's positions are set
    val bloomHits = probePos.join(idx, Seq("pos"))
      .groupBy(col("file_id"), col("probe_key"))
      .agg(count(lit(1)).as("hit_pos"))
      .join(nPos, Seq("probe_key"))
      .filter(col("hit_pos") === col("n_pos"))
      .groupBy(col("probe_key")).agg(count(lit(1)).as("n_files_bloom"))
    val exactHits = rows.join(probes, col("pk") === col("probe_key"))
      .select(col("probe_key"), col("file_id")).distinct()
      .groupBy(col("probe_key")).agg(count(lit(1)).as("n_files_exact"))
    val nLiveFiles = rows.select(col("file_id")).distinct().count()
    probes
      .join(exactHits, Seq("probe_key"), "left")
      .join(bloomHits, Seq("probe_key"), "left")
      .select(col("probe_key"), col("is_present"),
        coalesce(col("n_files_exact"), lit(0L)).as("n_files_exact"),
        coalesce(col("n_files_bloom"), lit(0L)).as("n_files_bloom"),
        (coalesce(col("n_files_bloom"), lit(0L))
          - coalesce(col("n_files_exact"), lit(0L))).as("false_pos"),
        lit(nLiveFiles).as("n_files"))
  }

  // --- Incremental zone-map maintenance ----------------------------------
  //
  // q205/q206 build their skipping indexes in one shot; the production
  // lifecycle is incremental — every commit lands data files AND appends
  // exactly those files' stats to the log (Delta's per-commit stats,
  // Iceberg's manifest entries). Rebuilding file stats from 100 TB per
  // commit is the one thing the design must never do: a tick's stats
  // cost must be O(tick), the store append-only, and a checkpoint-replay
  // of a tick must rewrite its own partition byte-identically without
  // touching any other (the q70/q182 exactly-once discipline — tick
  // content is a deterministic function of the tick's input, and both
  // the data write and the stats write are per-tick dynamic partition
  // overwrites, so replay after ANY crash window converges).
  //
  // Fixture: lineitem arrives over `nTicks` commits (ok % nTicks — the
  // deterministic batch split every streaming twin here uses); within a
  // commit, files are the q205 fixed-width orderkey buckets over the
  // GLOBAL domain, so file ids are comparable across ticks and a range
  // probe prunes at the (tick, file) grain. The returned relation is the
  // stats STORE read back from disk — one row per (ingest_batch,
  // file_id) — which the oracle re-derives from the raw table in one
  // GROUP BY; the spec pins the lifecycle claims the relation can't
  // show: per-tick partition bytes untouched by later ticks, mid-tick
  // crash + replay byte-identical, and probe-through-store ≡
  // probe-through-full-rebuild.

  /** Build-once 4-tick zone-map store shared by q209/q210/q211: same
    * (dir, nTicks, nFiles) → same deterministic content, so sharing
    * the ingest cost across the three sibling audits changes nothing
    * but the bench (r14 verdict #1). */
  private[graft] def ensureZoneMapStore(spark: SparkSession, dir: String,
                                        nTicks: Int, nFiles: Int): String =
    ensureStore(spark, "zm", s"$dir|$nTicks|$nFiles") { root =>
      (0 until nTicks).foreach(t =>
        zoneMapTickAt(spark, dir, root, t, nTicks, nFiles))
    }

  /** q209 — INCREMENTAL ZONE-MAP MAINTENANCE (see block comment). */
  def incrementalZoneMapStats(spark: SparkSession, dir: String,
                              nTicks: Int = 4, nFiles: Int = 16): DataFrame = {
    val root = ensureZoneMapStore(spark, dir, nTicks, nFiles)
    spark.read.parquet(s"$root/stats")
      .select(col("ingest_batch").cast("long").as("ingest_batch"),
        col("file_id").cast("long").as("file_id"), col("n_rows"),
        col("p_lo"), col("p_hi"), col("o_lo"), col("o_hi"))
  }

  /** One commit: land the tick's data files, append exactly those files'
    * zone-map stats under the tick's own partition. Deterministic in the
    * tick's input, per-tick dynamic overwrite on both stores — replay-
    * idempotent from any crash window. */
  private[graft] def zoneMapTickAt(spark: SparkSession, dir: String,
                                   root: String, tick: Int, nTicks: Int,
                                   nFiles: Int): Unit = {
    val li = graft.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    zoneMapCommit(li.filter(pmod(col("ok"), lit(nTicks.toLong)) === tick),
      tick.toLong, root, omin, omax, nFiles)
  }

  /** The commit core both drivers share (the q209 tick loop and the
    * q212 `foreachBatch` stream): assign the batch's rows to zones over
    * the DECLARED domain bounds (at 100 TB these come from table
    * metadata, not a scan — parameters here), land the data under
    * (ingest_batch, file_id), append the stats under ingest_batch.
    * Content is deterministic in (batch, batchId) and both writes are
    * per-tick dynamic overwrites, so Spark checkpoint recovery replays
    * to identical state whatever window the crash hit. */
  private[graft] def zoneMapCommit(batchRows: DataFrame, batchId: Long,
                                   root: String, omin: Long, omax: Long,
                                   nFiles: Int): Unit = {
    val spark = batchRows.sparkSession
    val batch = batchRows
      .withColumn("file_id",
        call_function("div", (col("ok") - lit(omin)) * lit(nFiles.toLong),
          lit(omax - omin + 1L)))
      .withColumn("ingest_batch", lit(batchId))
    batch.repartition(col("file_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch", "file_id").parquet(s"$root/data")
    // stats for THIS tick's files only — O(tick), never a rescan; read
    // from the files just landed so the stats describe what is on disk
    spark.read.parquet(s"$root/data")
      .filter(col("ingest_batch") === batchId)
      .groupBy(col("ingest_batch"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("p_lo"),
        max(col("pk")).as("p_hi"), min(col("ok")).as("o_lo"),
        max(col("ok")).as("o_hi"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(s"$root/stats")
  }

  /** q212-shape wrapper — W16 kept live: each micro-batch is one commit,
    * Spark's own batchId keys the idempotent tick (the q161/q182
    * streaming-twin discipline). The stream carries (ok, pk) rows. */
  def streamingZoneMapMaintenance(rows: DataFrame, root: String,
                                  omin: Long, omax: Long, nFiles: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        zoneMapCommit(batch, batchId, root, omin, omax, nFiles)
    }

  // --- Incremental Bloom maintenance + pruned point lookup ---------------
  //
  // W16/W17 gave the zone map its lifecycle and consumer; the Bloom index
  // (W15) gets the same pair, because that is how the real feature ships
  // (Delta bloom indexes are written per data file AT COMMIT TIME, never
  // rebuilt): each commit lands its data files and appends exactly those
  // files' set-position rows under its own partition — O(tick), the
  // (file, pos) relation growing by the tick's distinct keys · k. A
  // point lookup then opens only the (tick, file) partitions whose bloom
  // has ALL k probe positions set; false positives cost a wasted file
  // open and CANNOT corrupt the answer (the opened file's rows still
  // pass the residual key predicate — the consumer's correctness is
  // independent of the index's precision, spec-pinned by equality with
  // the naive scan).

  /** q213 — INCREMENTAL BLOOM MAINTENANCE: the W16 commit loop with the
    * per-file Bloom rows riding each commit. Returns the bloom store
    * read back — one row per (ingest_batch, file_id, pos) — which the
    * oracle re-derives from the raw table in one hash-and-distinct
    * (tick = ok % 4, file = the W14 bucket, positions = the W15 hash
    * math). The XO story is zoneMapCommit's verbatim: deterministic
    * content, per-tick dynamic overwrite. */
  /** Build-once 4-tick Bloom store shared by q213/q214 (the
    * ensureZoneMapStore discipline — deterministic content per key). */
  private[graft] def ensureBloomStore(spark: SparkSession, dir: String,
                                      nTicks: Int, nFiles: Int, mBits: Int,
                                      kHashes: Int): String =
    ensureStore(spark, "bl", s"$dir|$nTicks|$nFiles|$mBits|$kHashes") { root =>
      (0 until nTicks).foreach(t =>
        bloomTickAt(spark, dir, root, t, nTicks, nFiles, mBits, kHashes))
    }

  def incrementalBloomStats(spark: SparkSession, dir: String,
                            nTicks: Int = 4, nFiles: Int = 16,
                            mBits: Int = 65536, kHashes: Int = 3)
      : DataFrame = {
    val root = ensureBloomStore(spark, dir, nTicks, nFiles, mBits, kHashes)
    spark.read.parquet(s"$root/bloom")
      .select(col("ingest_batch").cast("long").as("ingest_batch"),
        col("file_id").cast("long").as("file_id"), col("pos"))
  }

  private[graft] def bloomTickAt(spark: SparkSession, dir: String,
                                 root: String, tick: Int, nTicks: Int,
                                 nFiles: Int, mBits: Int,
                                 kHashes: Int): Unit = {
    val li = graft.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    bloomCommit(li.filter(pmod(col("ok"), lit(nTicks.toLong)) === tick),
      tick.toLong, root, omin, omax, nFiles, mBits, kHashes)
  }

  /** One commit: land the tick's data files AND exactly those files'
    * bloom set-position rows under the tick's own partitions. */
  private[graft] def bloomCommit(batchRows: DataFrame, batchId: Long,
                                 root: String, omin: Long, omax: Long,
                                 nFiles: Int, mBits: Int,
                                 kHashes: Int): Unit = {
    val spark = batchRows.sparkSession
    val batch = batchRows
      .withColumn("file_id",
        call_function("div", (col("ok") - lit(omin)) * lit(nFiles.toLong),
          lit(omax - omin + 1L)))
      .withColumn("ingest_batch", lit(batchId))
    batch.repartition(col("file_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch", "file_id").parquet(s"$root/data")
    spark.read.parquet(s"$root/data")
      .filter(col("ingest_batch") === batchId)
      .select(col("ingest_batch"), col("file_id"),
        explode(array(bloomPositions(col("pk"), mBits, kHashes): _*))
          .as("pos"))
      .distinct()
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(s"$root/bloom")
  }

  /** W19 kept live — the zoneMapCommit XO story verbatim for the Bloom
    * index: each micro-batch is one commit (data files + exactly those
    * files' bloom set-position rows, both per-tick dynamic overwrites
    * keyed by Spark's own batchId), so checkpoint recovery replays any
    * crashed tick to identical state. The stream carries (ok, pk) rows. */
  def streamingBloomMaintenance(rows: DataFrame, root: String,
                                omin: Long, omax: Long, nFiles: Int = 16,
                                mBits: Int = 65536, kHashes: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        bloomCommit(batch, batchId, root, omin, omax, nFiles, mBits, kHashes)
    }

  /** q214 — BLOOM-PRUNED POINT LOOKUP: the consumer. Two probe keys (one
    * planted present, one past-domain absent) plan their reads through
    * the maintained bloom store: a (tick, file) partition opens only if
    * ALL k probe positions are set there (metadata-sized store join,
    * the one declared driver collect), partition filters carry the
    * surviving set, and the residual `pk = probe` finishes inside —
    * so the answer is exact whatever the index's false-positive rate.
    * Output per probe: files opened vs total (the pruning decision,
    * oracle-re-derived from the same hash math) and the exact row
    * count/sum the naive scan would give (the oracle's other half). */
  def bloomPrunedLookup(spark: SparkSession, dir: String,
                        nTicks: Int = 4, nFiles: Int = 16,
                        mBits: Int = 65536, kHashes: Int = 3)
      : DataFrame = {
    val root = ensureBloomStore(spark, dir, nTicks, nFiles, mBits, kHashes)
    val li = graft.Tables.table(spark, dir, "lineitem")
    val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val (pmin, pmax) = (b.getLong(0), b.getLong(1))
    // present probe: the domain midpoint snapped DOWN to an existing key
    // (ScaleUp's replica shift leaves value holes — rank-free but safe);
    // absent probe: past the domain maximum
    val mid = pmin + (pmax - pmin + 1L) / 2L
    val presentKey = li.filter(col("l_partkey") <= mid)
      .agg(max(col("l_partkey"))).head().getLong(0)
    val probes = Seq(presentKey -> true, (pmax + 7L) -> false)
    val bloom = spark.read.parquet(s"$root/bloom")
    val nZones = bloom.select(col("ingest_batch"), col("file_id"))
      .distinct().count()
    probes.map { case (key, isPresent) =>
      val want = BloomA.take(kHashes)
        .map(a => ((key * a) & 0x7FFFFFFFL) >> bloomShift(mBits)).distinct
      val opened = bloom.filter(col("pos").isin(want: _*))
        .groupBy(col("ingest_batch"), col("file_id"))
        .agg(countDistinct(col("pos")).as("hit"))
        .filter(col("hit") === want.length)
        .select(col("ingest_batch").cast("long"), col("file_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val agg =
        if (opened.isEmpty)
          spark.range(1).select(lit(0L).as("n_rows"), lit(0L).as("sum_ok"))
        else spark.read.parquet(s"$root/data")
          // ONE isin over the combined (tick, file) key, not a
          // |cells|-term Or-tree: still references only partition
          // columns (lands in PartitionFilters, prunes at the file
          // index) but costs the planner a set probe per partition
          // instead of an Or-walk — the shape that survives thousands
          // of surviving cells at 100 TB
          .filter((col("ingest_batch") * lit(nFiles.toLong) + col("file_id"))
            .isin(opened.map { case (t, f) => t * nFiles + f }: _*))
          .filter(col("pk") === key)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("ok")), lit(0L)).as("sum_ok"))
      agg.select(lit(key).as("probe_key"), lit(isPresent).as("is_present"),
        lit(nZones).as("n_zones_total"),
        lit(opened.length.toLong).as("n_zones_opened"),
        col("n_rows"), col("sum_ok"))
    }.reduce(_.unionByName(_))
  }

  /** q210 — ZONE-MAP-PRUNED SCAN: the CONSUMER of W16's store. A range
    * aggregate plans its read through the stats store instead of the
    * table: the zones overlapping the predicate are selected from the
    * |files|-row store (metadata-sized, the one declared driver
    * collect), the data read carries them as PARTITION filters (the
    * spec pins `inputFiles` strictly below the full scan's), and the
    * residual row predicate finishes inside the surviving files. Result
    * ≡ the naive full-scan filter by zone-map soundness — which is the
    * oracle: the aggregate over the raw table plus the zone counts
    * re-derived from the same GROUP BY. At 100 TB this is the entire
    * point of W14–W16: the query opens |overlapping zones| files, and
    * the planner learned that from a stats store it read instead of
    * 100 TB of footers. */
  def zoneMapPrunedScan(spark: SparkSession, dir: String,
                        nTicks: Int = 4, nFiles: Int = 16): DataFrame = {
    val root = ensureZoneMapStore(spark, dir, nTicks, nFiles)
    val li = graft.Tables.table(spark, dir, "lineitem")
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val d = omax - omin + 1L
    val (probeLo, probeHi) = (omin + d / 3L, omin + d / 3L + d / 8L)
    val stats = spark.read.parquet(s"$root/stats")
    val zonesTotal = stats.count()
    // the planning step: |files|-row store → the zones the range touches
    val pruned = stats
      .filter(col("o_hi") >= probeLo && col("o_lo") <= probeHi)
      .select(col("ingest_batch").cast("long"), col("file_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(pruned.nonEmpty, "probe range misses every zone — fixture broke")
    // ONE isin over the combined (tick, file) key, not a |zones|-term
    // Or-tree: still partition-column-only (prunes at the file index,
    // spec-pinned PartitionFilters + strictly fewer inputFiles), but a
    // set probe per partition instead of an O(zones) Or-walk — the
    // planner cost that matters when thousands of zones survive at 100 TB
    val partFilter = (col("ingest_batch") * lit(nFiles.toLong) + col("file_id"))
      .isin(pruned.map { case (t, f) => t * nFiles + f }: _*)
    spark.read.parquet(s"$root/data")
      .filter(partFilter)
      .filter(col("ok").between(probeLo, probeHi))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("pk")).as("sum_partkey"),
        min(col("ok")).as("min_ok"), max(col("ok")).as("max_ok"))
      .select(lit(zonesTotal).as("n_zones_total"),
        lit(pruned.length.toLong).as("n_zones_scanned"),
        col("n_rows"), col("sum_partkey"), col("min_ok"), col("max_ok"))
  }

  /** W20 [EXT] — INCREMENTAL Z-ORDER OPTIMIZE (q220): the verb that
    * keeps W14's clustering TRUE under W16's ingest. A z-ordered table
    * does not stay z-ordered: ticks land in INGEST order (their (pk, sk)
    * zones span the whole domain), so every multi-dim probe opens the
    * entire unclustered tail no matter how tight the settled zones are —
    * the measured decay this row exists to show. OPTIMIZE rewrites
    * settled + tail into a fresh Morton-clustered generation, published
    * by `versionedSwap`'s atomic pointer flip (blue/green — a reader at
    * any instant sees the old layout in full or the new in full), and
    * the same probe then opens the selective zone set again. Unlike
    * q211's metadata-only fold, z-order REASSIGNS file membership, so
    * the new generation's stats are recomputed from what was rewritten —
    * the declared cost of re-clustering, paid per OPTIMIZE decision.
    *
    * Output (one row per phase, everything exact integer math the oracle
    * replays): files in the layout, files the rectangle probe opens, and
    * the probe's answer — IDENTICAL pre/post (pruning is sound through
    * any layout; only the opened-file count moves). Fixture split:
    * settled = ok%5 < 3 (Morton-clustered), tail = 3 ingest ticks of the
    * rest (ok%3), each tick in W16's orderkey-bucket files. The probe is
    * a quarter-domain rectangle on BOTH dims — the shape W14 clusters
    * for. Scale: ticks stay O(tick) (per-commit stats, dynamic
    * overwrites); OPTIMIZE is one shuffle-free-read + one clustered
    * write over the store, amortized across every probe until the next
    * tail accumulates. Both probe phases materialize eagerly (the pre
    * phase's generation is superseded by the flip — a lazy read would
    * dangle). */
  def zorderOptimizeLifecycle(spark: SparkSession, dir: String,
                              bits: Int = 4, fileBits: Int = 4,
                              nTicks: Int = 3,
                              tailFiles: Int = 4): DataFrame = {
    val store =
      scratchDir(spark, s"zopt_${spillSeq.incrementAndGet()}") + "/store"
    val li = graft.Tables.table(spark, dir, "lineitem").select(
      col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
      col("l_suppkey").as("sk"))
    val b = li.agg(min(col("pk")), max(col("pk")), min(col("sk")),
      max(col("sk")), min(col("ok")), max(col("ok"))).head()
    val (pmin, pmax, smin, smax, omin, omax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3),
        b.getLong(4), b.getLong(5))
    val nb = 1L << bits
    def bucket(c: Column, lo: Long, hi: Long): Column =
      call_function("div", (c - lit(lo)) * lit(nb), lit(hi - lo + 1L))
    val zZone = concat(lit("z"), shiftright(
      mortonCode(bucket(col("pk"), pmin, pmax),
        bucket(col("sk"), smin, smax), bits), 2 * bits - fileBits))
    // Degraded-state fixture build in ONE pass: the settled Morton
    // commit and the nTicks ingest-order tail commits land disjoint zone
    // partitions ("z*" vs "t{t}_*"), so tagging every row with its
    // commit's zone expression and writing once produces the identical
    // (row, zone) store — and ONE read-back groupBy(zone) equals the
    // union of the per-commit prefix-bounded stats appends — at 1
    // lineitem scan + 1 shuffle instead of nTicks+1 of each. The
    // per-commit XO discipline itself is owned (and spec-pinned) by the
    // q209 zoneMapCommit lifecycle; this verb audits OPTIMIZE.
    val tailZone = concat(lit("t"),
      pmod(col("ok"), lit(nTicks.toLong)).cast("string"), lit("_"),
      call_function("div",
        (col("ok") - lit(omin)) * lit(tailFiles.toLong),
        lit(omax - omin + 1L)))
    // the degraded-state fixture store is deterministic in (dir,
    // geometry): build it once per session and give each invocation a
    // private file clone (OPTIMIZE below publishes a NEW generation over
    // it via the pointer flip, so the store is mutated state — the r21
    // ANN-lifecycle clone discipline)
    val degRoot = ensureStore(spark, "zodeg",
        s"$dir|$bits|$fileBits|$nTicks|$tailFiles") { r =>
      li.withColumn("zone",
          when(pmod(col("ok"), lit(5L)) < 3L, zZone).otherwise(tailZone))
        .repartition(col("zone"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("zone").parquet(s"$r/data")
      // stats from the files READ BACK (unchanged contract)
      spark.read.parquet(s"$r/data")
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pk")).as("pk_lo"), max(col("pk")).as("pk_hi"),
          min(col("sk")).as("sk_lo"), max(col("sk")).as("sk_hi"))
        .write.mode("overwrite").parquet(s"$r/stats")
    }
    cloneStoreDir(spark, degRoot, store)
    val (plo, phi) = (pmin + (pmax - pmin + 1L) / 4L,
      pmin + (pmax - pmin + 1L) / 2L)
    val (slo, shi) = (smin + (smax - smin + 1L) / 4L,
      smin + (smax - smin + 1L) / 2L)
    def probe(phase: String): (String, Long, Long, Long, Long, Long) = {
      val gen = livePath(spark, store)
      val stats = spark.read.parquet(s"$gen/stats")
      val total = stats.count()
      val zones = stats.filter(col("pk_hi") >= plo && col("pk_lo") <= phi &&
          col("sk_hi") >= slo && col("sk_lo") <= shi)
        .select(col("zone")).collect().map(_.getString(0)).toSeq
      val r = spark.read.parquet(s"$gen/data")
        .filter(col("zone").isin(zones: _*))
        .filter(col("pk").between(plo, phi) && col("sk").between(slo, shi))
        .agg(count(lit(1)), coalesce(sum(col("pk")), lit(0L)),
          coalesce(sum(col("sk")), lit(0L))).head()
      (phase, total, zones.length.toLong, r.getLong(0), r.getLong(1),
        r.getLong(2))
    }
    val pre = probe("pre")
    // OPTIMIZE: re-cluster everything into a fresh generation; the
    // pointer flip publishes it atomically, rollback = don't flip
    versionedSwap(spark, store) { (live, staged) =>
      val all = spark.read.parquet(s"$live/data")
        .select(col("ok"), col("pk"), col("sk"))
      val tagged = all.withColumn("zone", zZone)
      tagged.repartition(col("zone"))
        .write.mode("overwrite").partitionBy("zone").parquet(s"$staged/data")
      spark.read.parquet(s"$staged/data")
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pk")).as("pk_lo"), max(col("pk")).as("pk_hi"),
          min(col("sk")).as("sk_lo"), max(col("sk")).as("sk_hi"))
        .write.mode("overwrite").parquet(s"$staged/stats")
    }
    val post = probe("post")
    import spark.implicits._
    Seq(pre, post).toDF("phase", "n_files_total", "n_files_opened",
      "n_rows", "sum_pk", "sum_sk")
  }

  /** q211 — ZONE COMPACTION + METADATA-ONLY STATS FOLD: the maintenance
    * verb that keeps W16's lifecycle viable forever. Every commit adds a
    * (tick, zone) partition, so after T commits a zone's rows are
    * scattered over T small files — the LSM/Iceberg small-files problem;
    * probe cost grows with commit COUNT instead of data size. Compaction
    * folds all ticks of each zone into ONE partition at a NEW path
    * (blue/green — the old store stays byte-untouched until cutover,
    * spec-pinned), and the compacted stats store is derived from the OLD
    * STATS BY PURE AGGREGATION — min of mins, max of maxes, sum of
    * counts — never a data rescan: zone-map stats are an algebraic
    * monoid, which is exactly why a 100 TB compactor can plan and
    * certify itself from metadata. The spec pins the fold ≡ a recompute
    * from the compacted files, and the W17 probe through the compacted
    * store answers identically over fewer, bigger zones.
    *
    * Returns the COMPACTED stats store read back — one row per zone —
    * which the oracle re-derives in one GROUP BY over the raw table
    * (the q64/q66 one-oracle discipline). */
  def zoneCompaction(spark: SparkSession, dir: String,
                     nTicks: Int = 4, nFiles: Int = 16): DataFrame = {
    val root = ensureZoneMapStore(spark, dir, nTicks, nFiles)
    compactZonesAt(spark, root)
    spark.read.parquet(s"$root/stats_compact")
      .select(col("file_id").cast("long").as("file_id"), col("n_rows"),
        col("p_lo"), col("p_hi"), col("o_lo"), col("o_hi"))
  }

  /** The compaction itself: data folded tick→zone at a new path, stats
    * folded from the OLD STATS (metadata-only — no data read). */
  private[graft] def compactZonesAt(spark: SparkSession,
                                    root: String): Unit = {
    spark.read.parquet(s"$root/data")
      .drop("ingest_batch")
      .repartition(col("file_id"))
      .write.mode("overwrite").partitionBy("file_id")
      .parquet(s"$root/data_compact")
    spark.read.parquet(s"$root/stats")
      .groupBy(col("file_id"))
      .agg(sum(col("n_rows")).as("n_rows"), min(col("p_lo")).as("p_lo"),
        max(col("p_hi")).as("p_hi"), min(col("o_lo")).as("o_lo"),
        max(col("o_hi")).as("o_hi"))
      .write.mode("overwrite").parquet(s"$root/stats_compact")
  }

  // --- Materialized view: incremental maintenance, staleness, rewrite ----
  //
  // The zone-map/Bloom/NDV stores accelerate SCANS; a materialized view
  // accelerates whole AGGREGATES — the other thing a lakehouse persists
  // (reference analog: the reference recomputes its per-label scorecards
  // from the raw table on every run, /root/reference/src/
  // preprocessing_pipeline.py:258-290; at 100 TB that recompute IS the
  // query budget, so the warehouse keeps the aggregate and maintains it
  // per commit). The design is the W16 commit discipline applied to an
  // aggregate: the MV is stored as PER-TICK PARTIAL aggregates (count +
  // exact decimal sums — a mergeable monoid, the same property that made
  // zone-map compaction metadata-only and the A57 NDV sketches foldable),
  // each ingest tick appends exactly its own partials under its
  // ingest_batch partition via dynamic overwrite (deterministic content,
  // replay-idempotent — the XO story verbatim), and a read folds the
  // partials: O(groups · ticks), never a fact-table rescan. Sums are
  // carried as DECIMAL(12,2) partials so the fold is exact — a double
  // partial would make the fold order-sensitive and the rewrite proof
  // flaky at the last ulp.

  /** One MV commit: append THIS tick's per-group partial aggregate under
    * its own ingest_batch partition. The batch carries orders-shaped rows
    * (o_orderstatus, o_orderpriority, o_totalprice). Deterministic in
    * (batch, batchId); per-tick dynamic overwrite → crash/replay converges
    * instead of double-counting (the zoneMapCommit XO contract). */
  private[graft] def matViewCommit(batchRows: DataFrame,
                                   batchId: Long, root: String): Unit = {
    val spark = batchRows.sparkSession
    val mv = s"$root/mv"
    // tick commits need the tick-grain layout: a compacted store's live
    // generation dropped the ingest_batch grain (W24 folds it away), so
    // a commit after compaction must fail LOUDLY rather than land on
    // the dead raw path behind the pointer — post-compaction ingest
    // bootstraps a fresh tick-grain store
    require(livePath(spark, mv) == mv,
      s"MV store at $mv was compacted (live generation " +
        s"${livePath(spark, mv)}); tick commits need the tick-grain " +
        s"layout — bootstrap a new store before ingesting")
    val partial = batchRows
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("sum_price_dec"))
      .persist()
    try {
      // an empty tick is a valid no-op commit: a zero-row dynamic
      // overwrite would write a part-less directory that breaks later
      // schema inference with an obscure error
      if (partial.limit(1).count() > 0L)
        partial.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(mv)
    } finally { partial.unpersist(); () }
  }

  /** One ingest tick of the q233 loop: tick t carries the orders rows
    * with o_orderkey ≡ t (mod nTicks) — the oracle-derivable tick
    * assignment every incremental store in this repo uses. */
  private[graft] def matViewTickAt(spark: SparkSession, dir: String,
                                   root: String, tick: Int,
                                   nTicks: Int): Unit =
    matViewCommit(
      graft.Tables.table(spark, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(nTicks.toLong)) === tick),
      tick.toLong, root)

  /** Build-once complete MV store (all nTicks committed) — the q233
    * shared leaf, ensureZoneMapStore discipline. */
  private[graft] def ensureMatViewStore(spark: SparkSession, dir: String,
                                        nTicks: Int): String =
    ensureStore(spark, "mv", s"$dir|$nTicks") { root =>
      (0 until nTicks).foreach(t => matViewTickAt(spark, dir, root, t, nTicks))
    }

  /** Fold the stored partials to the view relation — O(groups · ticks),
    * no base-table read. Exact because the partials are a monoid:
    * counts add, DECIMAL sums add. */
  private[graft] def matViewFold(spark: SparkSession,
                                 root: String): DataFrame =
    // resolve through the generation pointer: after a W24 compaction the
    // live store is a folded generation dir, and the fold (re-aggregable
    // monoids) answers identically from either layout
    spark.read.parquet(livePath(spark, s"$root/mv"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("sum_price_dec")).as("sum_price_dec"))

  /** W22 [EXT] — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (q233).
    * Returns the partial-aggregate store read back — one row per
    * (ingest_batch, o_orderstatus, o_orderpriority) — which the oracle
    * re-derives in one GROUP BY over raw orders (tick = o_orderkey %
    * nTicks), so every partial the store holds is hash-checked, not just
    * the fold. The fold ≡ the direct base aggregate and commit-replay
    * idempotence are spec-pinned; q234 is the consumer. Scale: commit
    * cost is O(tick's rows) map-side-combined into |groups| rows; the
    * store is |groups|·|ticks| rows of metadata. */
  def incrementalMatViewMaintenance(spark: SparkSession, dir: String,
                                    nTicks: Int = 4): DataFrame = {
    val root = ensureMatViewStore(spark, dir, nTicks)
    // tick-grain read through the pointer: fails loudly (missing
    // ingest_batch) if the store was ever compacted, which the shared
    // leaf never is — the raw-path read would silently miss the flip
    spark.read.parquet(livePath(spark, s"$root/mv"))
      .select(col("ingest_batch").cast("long").as("ingest_batch"),
        col("o_orderstatus"), col("o_orderpriority"), col("n_orders"),
        col("sum_price_dec").cast("double").as("sum_price"))
  }

  /** The streaming twin (the W16/W19/A57 discipline): each micro-batch of
    * orders rows is ONE MV commit keyed by Spark's own batchId — replay
    * after checkpoint recovery converges because the commit is a per-tick
    * dynamic overwrite. Spec-pinned stream ≡ the q233 tick loop. */
  def streamingMatViewMaintenance(rows: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        matViewCommit(batch, batchId, root)
    }

  /** W23 [EXT] — MV STALENESS, REFRESH, AND REWRITE (q234): the consumer
    * that makes W22 a feature instead of a cache. On a PRIVATE store
    * (scratchDirUnique — the query mutates it mid-flight, so it must
    * never alias the shared q233 leaf; bench re-runs rebuild rather than
    * observe each other):
    *
    *  1. **Stale build** — commit ticks 0..nTicks−2 only (the crash
    *     window every incremental pipeline has: ingest landed, MV commit
    *     didn't).
    *  2. **Staleness detection from metadata** — covered rows = Σ
    *     n_orders over the stored partials (an MV-store fold); base rows
    *     = the PERSISTED ANALYZE store's orders row count
    *     ([[graft.operators.Relational.ensureTableStats]] — the
    *     statistics layer telling the MV layer it is behind; no base
    *     rescan anywhere in the decision).
    *  3. **Targeted refresh** — missing ticks = declared ticks minus the
    *     store's ingest_batch partitions (the store itself says what to
    *     replay); each missing tick is ONE ordinary commit.
    *  4. **Rewrite proof** — a rollup by o_orderstatus (a SUBSET of the
    *     MV's group keys — the classic MV-rewrite condition: the query's
    *     grouping is coarser than the view's, its aggregates are
    *     re-aggregable monoids) answered from the refreshed MV fold and
    *     from the base table; per status the row carries both answers
    *     and the match flag, hash-proving the rewrite route.
    *
    * Everything is oracle-re-derivable: pre-refresh coverage is the
    * o_orderkey % nTicks ≠ nTicks−1 count, base stats are raw counts,
    * and both rollup answers are the same GROUP BY. Scale: detection and
    * refresh planning read metadata only; the refresh itself is O(missing
    * ticks' rows) — never a view rebuild. */
  def matViewRewriteAudit(spark: SparkSession, dir: String,
                          nTicks: Int = 4): DataFrame = {
    // the audit's premise is a crash WINDOW (some ticks landed, the
    // last didn't): with nTicks < 2 there is no pre-refresh store to
    // read and the path fails obscurely instead of meaningfully
    require(nTicks >= 2, s"rewrite audit needs >= 2 ticks, got $nTicks")
    val root = scratchDirUnique(spark, "mvrw")
    // the stale store (ticks 0..nTicks−2 landed, the last didn't) is a
    // partition-subset of the shared complete leaf — clone exactly those
    // partitions instead of re-scanning orders once per tick; the
    // REFRESH below stays a real commit (it is the audited behavior)
    val leafMv = s"${ensureMatViewStore(spark, dir, nTicks)}/mv"
    (0 until nTicks - 1).foreach(t =>
      cloneStoreDir(spark, s"$leafMv/ingest_batch=$t",
        s"$root/mv/ingest_batch=$t"))
    // staleness: MV-covered rows (metadata fold) vs the ANALYZE store's
    // base count — no base-table scan in the decision
    val preRows = spark.read.parquet(livePath(spark, s"$root/mv"))
      .agg(coalesce(sum(col("n_orders")), lit(0L))).head().getLong(0)
    val baseRows = graft.operators.Relational.ensureTableStats(spark, dir)
      .filter(col("table_name") === "orders" &&
        col("column_name") === "o_orderkey")
      .select(col("n_rows")).head().getLong(0)
    val wasStale = preRows < baseRows
    // targeted refresh: the store's own partitions say which ticks are
    // missing — replay exactly those commits
    val present = spark.read.parquet(livePath(spark, s"$root/mv"))
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val missing = (0L until nTicks.toLong).filterNot(present)
    missing.foreach(t => matViewTickAt(spark, dir, root, t.toInt, nTicks))
    // rewrite: the coarser rollup from the refreshed fold vs the base
    val mvSide = matViewFold(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("n_orders")).as("mv_n"),
        sum(col("sum_price_dec")).cast("double").as("mv_sum"))
    val baseSide = graft.Tables.table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("base_n"),
        sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("double").as("base_sum"))
    mvSide.join(baseSide, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("mv_n"), col("base_n"),
        col("mv_sum"), col("base_sum"),
        (col("mv_n") === col("base_n") &&
          col("mv_sum") === col("base_sum")).as("rewrite_match"),
        lit(preRows).as("pre_refresh_rows"),
        lit(baseRows).as("base_rows"),
        lit(wasStale).as("was_stale"),
        lit(missing.size.toLong).as("n_refreshed_ticks"))
  }
  /** W24 [EXT] — MV STORE COMPACTION (q239): the W18 small-files verb
    * applied to W22. After T ingest ticks the MV's partials sit in T
    * partitions and every fold's cost grows with COMMIT COUNT, not
    * group count; compaction folds them into ONE generation — and
    * because the partials are a monoid (counts add, DECIMAL sums add),
    * the compacted store is derived from the OLD PARTIALS BY PURE
    * AGGREGATION, never a fact-table rescan, published by
    * [[versionedSwap]]'s atomic pointer flip (blue/green — the
    * superseded tick-grain generation stays on disk as vacuum-able
    * garbage, W21's contract). Runs on a PRIVATE store (the audit
    * builds and mutates MV state — the crash-replay-spec discipline,
    * never the shared q233 leaf). The registered relation is the
    * compacted generation READ BACK — one row per group, the fold the
    * oracle re-derives in one GROUP BY over raw orders — plus the audit
    * counters: partial rows before (|groups|·|ticks|, oracle-re-derived
    * as the distinct (tick, group) count), rows after (|groups|), and
    * the live generation number. Specs pin compacted fold ≡
    * pre-compaction fold, the q234 rollup answering identically through
    * the compacted store, and re-compaction converging (gen advances,
    * content identical — the fold is idempotent on a folded store).
    *
    * Scale: the fold is |groups|·|ticks| rows of metadata at any
    * corpus size — W22 keeps commits O(tick), this row keeps READS
    * O(groups), the same split W16/W18 make for zone maps. */
  /** One MV compaction step on an existing store: fold whatever the
    * live generation holds into a fresh generation by pure aggregation
    * and flip the pointer; returns the new generation number. The fold
    * is idempotent on a folded store (same group keys, re-aggregable
    * monoids), so re-compaction advances the generation with identical
    * content — exposed so the spec can pin exactly that. */
  private[graft] def compactMvAt(spark: SparkSession,
                                 mvPath: String): Long = {
    versionedSwap(spark, mvPath) { (cur, next) =>
      spark.read.parquet(cur)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          // keep the tick store's own sum type (decimal(22,2)) — a
          // narrower cast would overflow once group sums pass 10^10
          sum(col("sum_price_dec")).cast("decimal(22,2)")
            .as("sum_price_dec"))
        .write.mode("overwrite").parquet(next)
    }
    val live = livePath(spark, mvPath)
    live.substring(live.lastIndexOf("__g") + 3).toLong
  }

  def matViewCompaction(spark: SparkSession, dir: String,
                        nTicks: Int = 4): DataFrame = {
    val root = scratchDirUnique(spark, "mvcmp")
    // private working copy CLONED from the shared complete leaf: the
    // tick-grain store is a pure function of (dir, nTicks) and ~|groups|·
    // |ticks| rows of metadata, so the clone is byte-identical state at
    // file-copy cost instead of nTicks orders scans; the compaction then
    // mutates only the copy (the shared q233 leaf is never compacted)
    cloneStoreDir(spark, s"${ensureMatViewStore(spark, dir, nTicks)}/mv",
      s"$root/mv")
    val mvPath = s"$root/mv"
    val nBefore = spark.read.parquet(mvPath).count()
    val gen = compactMvAt(spark, mvPath)
    val live = livePath(spark, mvPath)
    val compacted = spark.read.parquet(live)
    val nAfter = compacted.count()
    compacted.select(col("o_orderstatus"), col("o_orderpriority"),
      col("n_orders"),
      col("sum_price_dec").cast("double").as("sum_price"),
      lit(nBefore).as("n_partials_before"),
      lit(nAfter).as("n_rows_after"),
      lit(gen).as("generation"))
  }
}
