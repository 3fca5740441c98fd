package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Parquet-backed collection store — the Spark analog of the reference's
  * ChromaDB collection lifecycle (/root/reference/src/PDFToChromaIngester.py):
  *
  *  - create_collection with delete-then-recreate (:29-33) = overwrite write
  *  - collection.add (:189-193 / ChromaCloudIngester.py:153-157) = append
  *  - collection.count (:237-247) = parquet metadata-only count
  *  - client.list_collections (RagWorkflow.py:26) = subdirectory listing
  *
  * Layout: `<root>/<collectionName>/` parquet, optionally partitioned by a
  * metadata column (e.g. `category`) so equality `where` filters become
  * partition pruning at scale.
  *
  * Filesystem: every bookkeeping primitive (listing, staged swaps, atomic
  * marker replace, fork links) goes through [[StoreFs]] — Hadoop's
  * `FileSystem` API — so a store root may live on `file:`, `hdfs:`, or any
  * mounted scheme; the data reads/writes are Spark parquet jobs and were
  * always scheme-agnostic. [[fork]] degrades from hardlinks to byte copies
  * off local disks (links are a local-filesystem feature).
  */
final case class VectorStore(root: String) {
  private def path(name: String) = s"$root/$name"

  /** The filesystem seam every bookkeeping op goes through (resolved from
    * the root's scheme; transient — never shipped inside a task). */
  @transient private[store] lazy val sfs: StoreFs = StoreFs.forPath(root)

  def create(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
             manifest: Option[CollectionManifest] = None,
             writeOptions: Map[String, String] = Map.empty): Unit = {
    // the alias namespace is unambiguous in BOTH directions: minting a
    // collection under a live alias would shadow it (reads resolve the
    // alias first and would silently miss the new data)
    require(!sfs.isFile(aliasPath(name)),
      s"collection name '$name' collides with a live alias")
    val w = df.write.mode("overwrite").options(writeOptions)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(name))
    // write AFTER the parquet overwrite (which clears the directory) so
    // the binding can never outlive the data it describes
    manifest.foreach(CollectionManifest.write(path(name), _))
  }

  /** Create a collection supporting id-level mutation (upsert / update /
    * delete / get) — rows gain a hidden write-sequence column and the
    * collection gains a tombstone log; see [[MutableCollection]] for the
    * merge-on-read design. Read mutable collections through
    * [[MutableCollection.readLive]] (plain [[read]] sees dead versions). */
  def createMutable(name: String, df: DataFrame, idCol: String,
                    partitionBy: Seq[String] = Nil,
                    manifest: Option[CollectionManifest] = None): MutableCollection = {
    require(df.columns.contains(idCol),
      s"id column '$idCol' is not in the frame (${df.columns.mkString(", ")})")
    // partitioned layout + merge-on-read do not compose: upsert appends
    // files FLAT, and a parquet directory with files at two depths
    // breaks Spark's partition discovery on the very next read — refuse
    // at create instead of corrupting at first mutation (the mutable
    // tier's bounded-read pruning comes from id blooms, not partitions)
    require(partitionBy.isEmpty,
      "createMutable does not support partitionBy: mutations append " +
        "unpartitioned files, which would corrupt partition discovery — " +
        "mutable collections prune bounded reads via id bloom filters instead")
    // id-column BLOOM FILTERS on every data file: the delta-bounded
    // read paths (update / get / CDC In-pushdown) prune row groups by
    // id, and with randomly-ordered ids min/max stats span the whole
    // domain and prune NOTHING — the bloom is what makes a 10-id lookup
    // on a 100 TB collection skip the groups that cannot hold them
    create(name, df.withColumn(MutableCollection.SeqCol, lit(0L)),
      partitionBy, manifest, writeOptions = MutableCollection.bloomOpts(idCol))
    MutableCollection.Marker.write(path(name), MutableCollection.Marker(idCol, 0L))
    MutableCollection(this, name)
  }

  /** Handle to an existing mutable collection (fails fast otherwise).
    * Resolves aliases: mutations through a serving alias land on its
    * target, the write-alias contract. */
  def mutable(name: String): MutableCollection = {
    recoverStranded()
    val mc = MutableCollection(this, resolve(name))
    mc.idCol: Unit // validates the marker exists
    mc
  }

  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
             manifest: Option[CollectionManifest] = None): Unit = {
    // writes resolve through aliases too (the Elasticsearch write-alias
    // contract — blue/green INGESTION points "live" at the current
    // build); appending to an alias name directly would otherwise mint
    // a shadow directory the reads never see
    val name0 = resolve(name)
    require(MutableCollection.Marker.read(path(name0)).isEmpty,
      s"collection '$name' is mutable — raw append would bypass the " +
        "sequence column; go through VectorStore.mutable(name).upsert")
    // the Chroma-bound-embedder contract (PDFToChromaIngester.py:51-54):
    // an embedder-bound collection rejects appends that do not declare
    // the SAME embedding space — the silent-mixed-space failure mode is
    // exactly what the manifest exists to prevent
    (this.manifest(name0), manifest) match {
      case (Some(have), Some(declared)) =>
        require(have.fingerprint == declared.fingerprint,
          s"append to '$name' with a different embedder manifest: collection " +
            s"is bound to ${have.canonical} but the append declares ${declared.canonical}")
      case (Some(have), None) =>
        throw new IllegalArgumentException(
          s"collection '$name' is bound to embedder ${have.canonical} — " +
            "append must declare the matching manifest")
      case _ => // unbound collection, or first binding below
    }
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(name0))
    if (this.manifest(name0).isEmpty)
      manifest.foreach(CollectionManifest.write(path(name0), _))
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present
    * in `df`, leaving every other partition's files untouched — the
    * incremental-index maintenance primitive (a batch that lands in 3
    * of 1000 cells rewrites 3 directories, not the collection). */
  def overwritePartitions(name: String, df: DataFrame, partitionBy: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path(name))

  /** The embedder manifest bound to a collection, if any. Resolves
    * aliases — a manifest probe through a serving alias must report the
    * target's binding, not a silent None. */
  def manifest(name: String): Option[CollectionManifest] = {
    recoverStranded()
    CollectionManifest.read(path(resolve(name)))
  }

  def read(spark: SparkSession, name: String): DataFrame = {
    recoverStranded()
    VectorStore.readParquetCached(spark, sfs, path(resolve(name)))
  }

  /** The collection's CURRENT rows: the tombstone-merged live view for
    * mutable collections, a plain read otherwise — what every QUERY
    * path should consume (raw [[read]] sees dead row versions on a
    * mutable collection). */
  def readCurrent(spark: SparkSession, name: String): DataFrame = {
    recoverStranded()
    val concrete = resolve(name)
    if (MutableCollection.Marker.read(path(concrete)).isDefined)
      MutableCollection(this, concrete).readLive(spark)
    else VectorStore.readParquetCached(spark, sfs, path(concrete))
  }

  /** Live count — metadata-only over parquet footers for immutable
    * collections (no data pages scanned); tombstone-merged for mutable
    * ones (correct beats fast: a raw footer count would include dead
    * versions). */
  def count(spark: SparkSession, name: String): Long =
    readCurrent(spark, name).count()

  /** Ops inventory — every collection with its detected layout FAMILY
    * and current row count (live rows for mutable collections): the
    * "what indexes do I have" audit a store of hundreds of collections
    * needs before any maintenance window. Detection reads only schema
    * footers and `_`-sidecars, never data pages; the count is the
    * [[count]] semantics per kind. Kinds: `text` (postings sidecar),
    * `sparse` (weighted-postings sidecar), `mutable` (version marker),
    * `graph` (adjacency column), `bq` (signature relation),
    * `ivf_pq`/`ivf_sq`/`ivf` (cell-partitioned codes/vectors),
    * `collection` (plain relation). */
  /** One row per collection: (name, detected index kind, live row
    * count) — plus, for every index whose watermark sidecar binds it to
    * the mutable collection it serves, the vacuum advisor columns
    * (worst_cell_garbage_ppm, vacuum_recommended at `maxGarbagePpm`;
    * NULL for plain collections and the text/sparse families) — the r13
    * discoverability ask: the catalog already detects every family, so
    * index garbage is surfaced HERE, not behind an advisor call the
    * user must know to make with an explicit index list. */
  def indexCatalog(spark: SparkSession,
                   maxGarbagePpm: Long = 200000L): DataFrame = {
    val names = list().sorted
    // detection + count per collection run CONCURRENTLY from a bounded
    // driver pool: each count is its own (cheap, footer-metadata or
    // tombstone-merged) Spark job, and a store of thousands of
    // collections must not pay thousands of SERIAL job round-trips —
    // wall time is max-of, not sum-of (Spark's scheduler is built for
    // multi-threaded submission; recoverStranded is synchronized so
    // concurrent healing cannot double-rename). Results keep the
    // deterministic name order regardless of completion order.
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, names.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // finite deadline, not Duration.Inf: one hung collection read must
    // fail the catalog loudly (TimeoutException names the op) instead of
    // stalling it forever while the pool keeps submitting jobs
    val deadline = scala.concurrent.duration.Duration(
      sys.env.getOrElse("GRAFT_CATALOG_TIMEOUT_SEC", "1800").toLong, "s")
    val rows =
      try Await.result(Future.sequence(names.map { name => Future {
        val fields = read(spark, name).schema.fieldNames.toSet
        val kind =
          if (sfs.readProps(s"${path(name)}/${VectorStore.TextIndexPropsFile}")
            .isDefined) "text"
          else if (sfs.readProps(s"${path(name)}/${VectorStore.SparseIndexPropsFile}")
            .isDefined) "sparse"
          else if (sfs.readProps(
            s"${path(name)}/${graft.operators.Dedup.SignatureIndexPropsFile}")
            .isDefined) "minhash_bands"
          else if (fields.contains("_sh")) "minhash_shingles"
          else if (MutableCollection.Marker.read(path(name)).isDefined) "mutable"
          else if (fields.contains("neighbors")) "graph"
          else if (fields.contains("bq_lo")) "bq"
          else if (fields.contains("pq_code")) "ivf_pq"
          else if (fields.contains("sq_code")) "ivf_sq"
          else if (fields.contains("cell_id")) "ivf"
          else "collection"
        val garbage = graft.operators.MutableVacuum.catalogGarbage(
          spark, this, name, maxGarbagePpm)
        (name, kind, count(spark, name), garbage.map(_._1), garbage.map(_._2))
      }}), deadline)
      finally pool.shutdown()
    import spark.implicits._
    // n_rows, not "rows": the gate's oracle engine reserves ROWS
    rows.toDF("name", "kind", "n_rows", "worst_cell_garbage_ppm",
      "vacuum_recommended")
  }

  /** Crash recovery for the compaction swap: a death between the two
    * renames leaves the data ONLY under `name__old` (which list()
    * filters out — the collection would silently vanish). Detect the
    * stranded layout on every open/listing and rename it back.
    * Synchronized: concurrent read verbs (the [[indexCatalog]] pool)
    * must not race each other into double-renaming the same stranded
    * directory — the listing and the conditional rename re-evaluate
    * under one lock. */
  private def recoverStranded(): Unit = synchronized {
    sfs.list(root).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith("__old") && !sfs.exists(path(n.stripSuffix("__old"))))
        sfs.rename(st.getPath.toString, path(n.stripSuffix("__old"))): Unit
    }
  }

  def list(): Seq[String] = {
    recoverStranded()
    sfs.list(root).filter(_.isDirectory).map(_.getPath.getName)
      // in-flight compaction scratch (a crash mid-compact can leave
      // either behind) is not a collection, and neither is the alias
      // registry directory
      .filterNot(n => n.endsWith("__compacting") || n.endsWith("__old") ||
        n == VectorStore.AliasDirName)
      .sorted
  }

  /** All data-file statuses of a collection (recursive — partitioned
    * layouts keep files one directory down). Scheme-agnostic. */
  def dataFileStatuses(name: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    recoverStranded()
    sfs.walkFiles(path(name)).filter(_.getPath.getName.startsWith("part-"))
  }

  /** All data files of a collection as local `File`s — a LOCAL-SCHEME
    * convenience (inode checks, split engineering in specs); use
    * [[dataFileStatuses]] for scheme-agnostic metadata. */
  def dataFiles(name: String): Seq[java.io.File] =
    dataFileStatuses(name).map(sfs.toLocalFile)

  /** Compact a collection's small files — the maintenance op every
    * long-lived ingest store needs: streaming/incremental appends leave
    * thousands of KB-sized files, and at 100 TB the resulting scan-task
    * and NameNode/listing overhead dominates query latency.
    *
    * Reads the collection, coalesces to ceil(bytes/targetBytes) output
    * files — `coalesce`, NOT `repartition`: compaction is an IO rewrite
    * and must not pay a full shuffle pass — writes to a swap directory,
    * then atomically renames into place (a directory rename is atomic on
    * HDFS and POSIX; a pure object store would swap a manifest pointer
    * instead — the read+coalesce+write core is unchanged).
    *
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, name: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    // the swap would silently DROP the tombstone log and marker —
    // resurrecting every deleted row; mutable collections compact
    // through their own tombstone-folding path
    require(MutableCollection.Marker.read(path(name)).isEmpty,
      s"collection '$name' is mutable — use VectorStore.mutable(name).compact " +
        "(file compaction here would discard the tombstone log)")
    requireNotIndexLayout(name, "compact")
    val before = dataFileStatuses(name)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // a hive-partitioned layout is detected from the data-file paths and
    // PRESERVED — flattening it would silently break every pruned read;
    // files merge within partition directories
    val rootUriPath = new org.apache.hadoop.fs.Path(path(name)).toUri.getPath
    val partCols = before.headOption.toSeq.flatMap { st =>
      st.getPath.getParent.toUri.getPath.stripPrefix(rootUriPath)
        .split("/").filter(_.contains("=")).map(_.takeWhile(_ != '='))
    }
    replace(name, read(spark, name).coalesce(nOut), partCols.toSeq)
    (before.size, dataFileStatuses(name).size)
  }

  /** Atomically replace collection `name`'s contents with `df` — the
    * staged-swap discipline shared by every maintenance rewrite
    * ([[compact]]'s file merge, IVF retrain's cell re-assignment): write
    * to a scratch directory, carry the embedder binding and user
    * metadata over (a rewrite changes layout or derived columns, never
    * the collection's identity), stage the original ASIDE, swap, clean
    * up. A crash at any point leaves either the original or the
    * replacement addressable — [[recoverStranded]] heals the
    * between-renames window on the next open. Mutable collections are
    * refused (a raw swap would discard the tombstone log). */
  def replace(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    require(MutableCollection.Marker.read(path(name)).isEmpty,
      s"collection '$name' is mutable — maintenance rewrites go through " +
        "VectorStore.mutable(name) (a raw swap would discard the tombstone log)")
    requireNotIndexLayout(name, "replace")
    val tmpName = name + "__compacting"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(tmpName))
    // EVERY `_*.properties` sidecar travels with the swap (embedder
    // binding, user metadata, streaming commit watermark, whatever is
    // added next) — a whitelist of known sidecars would silently strip
    // the next one added (the StreamCommits watermark was the first
    // casualty). The compactDirty journal is `.journal`, not
    // `.properties`, and must NOT travel: it names files of the old
    // layout.
    sfs.list(path(name))
      .filter(st => st.isFile && st.getPath.getName.startsWith("_") &&
        st.getPath.getName.endsWith(".properties"))
      .foreach(st => sfs.copyFile(st.getPath.toString,
        s"${path(tmpName)}/${st.getPath.getName}"))
    // swap with a recovery path: stage the original ASIDE first — a
    // delete-then-rename would strand the collection with no data under
    // its name if the second rename failed (open handles, NFS quirks)
    sfs.deleteTree(path(name + "__old"))
    require(sfs.rename(path(name), path(name + "__old")),
      s"replace: cannot stage $name aside")
    if (!sfs.rename(path(tmpName), path(name))) {
      // report a failed restore DISTINCTLY — claiming "restored" on a
      // discarded rename result could send an operator looking at the
      // wrong directory; recoverStranded() also heals this on next open
      val restored = sfs.rename(path(name + "__old"), path(name))
      throw new IllegalStateException(
        if (restored) s"replace swap failed for $name; original restored"
        else s"replace swap failed for $name AND restore failed — " +
          s"data is under ${name}__old (auto-recovered on next open)")
    }
    sfs.deleteTree(path(name + "__old"))
  }

  /** Shared target-name validation for the verbs that mint a collection
    * name (rename / fork): plain path segment, and none of the
    * compaction machinery's reserved suffixes — "x__old" would be
    * deleted by a later compact of "x" (rm of the staging dir) or
    * silently renamed by recoverStranded, and "x__compacting" is
    * invisible to list() and overwritten by a compact of "x". */
  /** The generic maintenance rewrites carry only `_*.properties`
    * sidecars across the swap — the text/sparse index families keep
    * delete state in `_deleted`/`_docs` parquet DIRECTORIES, which a
    * raw swap would silently drop (resurrecting every tombstoned doc
    * with stats that still exclude them). Those families have their own
    * journaled, tombstone-aware compactIndex verbs — route there. */
  private def requireNotIndexLayout(name: String, op: String): Unit = {
    require(!sfs.isFile(s"${path(name)}/${VectorStore.TextIndexPropsFile}"),
      s"'$name' is a text index — $op would drop its _deleted/_docs state; " +
        "use TextIndex.compactIndex")
    require(!sfs.isFile(s"${path(name)}/${VectorStore.SparseIndexPropsFile}"),
      s"'$name' is a sparse index — $op would drop its _deleted/_model state; " +
        "use SparseSearch.compactIndex")
  }

  private def requireMintableName(to: String): Unit = {
    require(to.nonEmpty && !to.contains('/') && !to.contains('\\') &&
      to != "." && to != "..",
      s"collection name '$to' must be a plain path segment")
    require(!to.endsWith("__old") && !to.endsWith("__compacting"),
      s"collection name '$to' collides with the compaction staging suffixes")
    require(!sfs.isFile(aliasPath(to)),
      s"collection name '$to' collides with a live alias")
  }

  /** Rename a collection (the Chroma `collection.modify(name=...)`
    * shape): one atomic directory move — every sidecar (manifest,
    * mutable marker, tombstone log) travels with it; nothing is
    * rewritten. Fails fast on a missing source or existing target
    * rather than clobbering. */
  def rename(from: String, to: String): Unit = {
    recoverStranded()
    requireMintableName(to)
    require(sfs.isDir(path(from)), s"collection '$from' does not exist")
    require(!sfs.exists(path(to)), s"collection '$to' already exists")
    require(sfs.rename(path(from), path(to)), s"rename '$from' -> '$to' failed")
  }

  /** The Chroma `collection.modify(name=..., metadata=...)` verb in one
    * call: an optional rename (atomic directory move, sidecars travel)
    * and/or an optional metadata REPLACEMENT (Chroma's documented
    * semantics — the new map replaces the old wholesale, it does not
    * merge). Returns the collection's (possibly new) name. Metadata is
    * written under the CURRENT name first so a failed rename never
    * leaves the update half-applied on a name that no longer exists. */
  def modify(name: String, newName: Option[String] = None,
             metadata: Option[Map[String, String]] = None): String = {
    recoverStranded()
    require(sfs.isDir(path(name)), s"collection '$name' does not exist")
    metadata.foreach(CollectionMeta.write(path(name), _))
    newName.foreach(rename(name, _))
    newName.getOrElse(name)
  }

  /** Collection-level user metadata (empty map when none was ever set).
    * Resolves aliases — read verbs resolve-then-read, same as
    * [[manifest]]/[[read]]/[[count]]: metadata through a serving alias
    * must report the target's map, not a silent empty one. */
  def metadata(name: String): Map[String, String] = {
    recoverStranded()
    CollectionMeta.read(path(resolve(name)))
  }

  /** Zero-copy writable fork of a collection (the lakehouse SHALLOW
    * CLONE verb): every data file and sidecar is HARDLINKED into the
    * new collection directory — O(files) metadata operations, zero
    * bytes moved, so forking a 100 TB collection for an experiment
    * costs what an `ls` costs. Parquet files are immutable by the
    * store's write discipline (appends/compactions create NEW files;
    * the staged swap replaces directories, never rewrites in place), so
    * the link-sharing is safe: mutations on either side only ADD files
    * in their own directory or swap their own directory away — the
    * shared bytes are never edited through either name — and the same
    * holds for tombstone-log parquet (appends create new files,
    * truncation deletes names). Non-parquet sidecars (the mutable
    * marker, the embedder manifest) are COPIED, not linked: the marker
    * is atomically REPLACED on every seq allocation, which would sever
    * a link anyway — copying makes the bookkeeping independence
    * explicit, so a forked mutable collection versions independently.
    * Off local disks (no hardlink primitive) the fork degrades to a
    * byte copy per file — O(bytes), stated loudly here. */
  def fork(from: String, to: String): Unit = {
    recoverStranded()
    requireMintableName(to)
    require(sfs.isDir(path(from)), s"collection '$from' does not exist")
    require(!sfs.exists(path(to)), s"collection '$to' already exists")
    def go(src: org.apache.hadoop.fs.FileStatus, dst: String): Unit = {
      if (src.isDirectory) {
        sfs.mkdirs(dst)
        sfs.list(src.getPath.toString)
          .foreach(c => go(c, s"$dst/${c.getPath.getName}"))
      } else if (src.getPath.getName.startsWith("part-")) {
        // parquet payloads — data AND tombstone-log files — are
        // HARDLINKED where possible: both are immutable under the write
        // discipline (appends create new files, compaction swaps
        // directories, the log truncates by deleting names), so sharing
        // bytes is safe
        sfs.linkOrCopy(src.getPath.toString, dst)
      } else {
        // non-parquet sidecars (marker, manifest, _SUCCESS): copied —
        // the marker is atomically REPLACED on every seq allocation,
        // which would sever a link anyway; copying makes the
        // bookkeeping independence explicit
        sfs.copyFile(src.getPath.toString, dst)
      }
    }
    // staged like every other multi-step write in this file: build
    // under the reserved (list-invisible) suffix, then ONE atomic
    // rename — a crash mid-walk leaves only an inert staging dir that
    // the next fork clears, never a half-populated collection that
    // reads as valid and blocks retry
    val tmp = path(to + "__compacting")
    sfs.deleteTree(tmp)
    sfs.mkdirs(tmp)
    sfs.list(path(from)).foreach(c => go(c, s"$tmp/${c.getPath.getName}"))
    require(sfs.rename(tmp, path(to)), s"fork '$from' -> '$to': final rename failed")
  }

  /** First `n` current rows by id order (the Chroma `peek(n)` shape) —
    * a bounded look, not a scan: TakeOrdered, k rows per partition. */
  def peek(spark: SparkSession, name: String, n: Int = 10,
           idCol: String = "id"): DataFrame =
    readCurrent(spark, name).orderBy(idCol).limit(n)

  def drop(name: String): Unit = sfs.deleteTree(path(name))

  // -------------------------------------------------------------- aliases

  /** Collection aliases — the blue/green serving verb (the Elasticsearch
    * alias / Qdrant `update_collection_aliases` shape): an alias is a
    * one-property sidecar under `<root>/_aliases/<alias>.properties`
    * naming its target collection. [[swapAlias]] is ONE atomic props
    * replace, so a reindex cutover ("build idx_v2, point `serving` at
    * it") is all-or-nothing: a reader resolves either the old target or
    * the new one, never a torn state — the property the staged-swap
    * machinery guarantees for data is delivered here for NAMES, which
    * is what makes zero-downtime reindex possible at any collection
    * size (the cutover cost is one tiny file, not a data move).
    *
    * Contract (the Elasticsearch one): READ verbs accept an alias
    * (resolve-then-read); lifecycle verbs (create / rename / fork /
    * drop) operate on concrete names only — [[requireMintableName]]
    * refuses to mint a collection over a live alias, and alias creation
    * refuses a name an existing collection holds, so the namespace
    * stays unambiguous in both directions. [[rename]] does NOT retarget
    * aliases pointing at the renamed collection: a dangling alias
    * resolves to its (now missing) target and the read fails loudly —
    * retargeting is an explicit [[swapAlias]], never a side effect. */
  private def aliasPath(alias: String) = s"$root/${VectorStore.AliasDirName}/$alias.properties"

  def createAlias(alias: String, target: String): Unit = {
    recoverStranded()
    // existence first so the actionable message fires (requireMintableName
    // also rejects live aliases, but with the name-collision wording)
    require(!sfs.isFile(aliasPath(alias)),
      s"alias '$alias' already exists — retarget with swapAlias")
    requireMintableName(alias)
    require(!sfs.exists(path(alias)),
      s"alias '$alias' collides with an existing collection")
    require(sfs.isDir(path(target)), s"alias target '$target' does not exist")
    writeAlias(alias, target)
  }

  /** Atomically retarget a live alias — the blue/green cutover. */
  def swapAlias(alias: String, newTarget: String): Unit = {
    recoverStranded()
    require(sfs.isFile(aliasPath(alias)), s"alias '$alias' does not exist")
    require(sfs.isDir(path(newTarget)),
      s"alias target '$newTarget' does not exist")
    writeAlias(alias, newTarget)
  }

  private def writeAlias(alias: String, target: String): Unit = {
    val p = new java.util.Properties()
    p.setProperty("target", target)
    sfs.writePropsAtomic(aliasPath(alias), p, "graft collection alias")
  }

  def dropAlias(alias: String): Unit = {
    require(sfs.isFile(aliasPath(alias)), s"alias '$alias' does not exist")
    sfs.deleteTree(aliasPath(alias))
  }

  /** (alias, target) pairs, alias-sorted. */
  def aliases(): Seq[(String, String)] = {
    val dir = s"$root/${VectorStore.AliasDirName}"
    if (!sfs.exists(dir)) Nil
    else sfs.list(dir).filter(st => !st.isDirectory &&
        st.getPath.getName.endsWith(".properties"))
      .flatMap { st =>
        val a = st.getPath.getName.stripSuffix(".properties")
        sfs.readProps(st.getPath.toString).map(p => a -> p.getProperty("target"))
      }.sortBy(_._1)
  }

  /** Alias resolution: the target when `name` is an alias, else `name`
    * itself. One sidecar probe — resolution cost is independent of
    * store size. */
  def resolve(name: String): String =
    sfs.readProps(aliasPath(name)).map(_.getProperty("target")).getOrElse(name)

  /** Remove the whole store root (scratch stores in tests/queries). */
  def destroy(): Unit = sfs.deleteTree(root)
}

object VectorStore {
  /** Parquet SCHEMA-INFERENCE cache for path-based reads. Every
    * `spark.read.parquet(dir)` runs a one-task footer-reading Spark job
    * to infer the schema — per CALL, with no session-level reuse for
    * path (non-catalog) tables. The composed maintenance verbs re-read
    * the same small layouts 5-15 times per invocation (report, probe,
    * heal, rewrite), so at gate scale those inference jobs plus their
    * scheduling gaps are a measured ~1-1.5 s of a vacuum gate's wall
    * time; at 100 TB the same jobs read footers over object storage.
    *
    * Keyed FAIL-SAFE on the directory's own data-file state — the
    * sorted (path, length, mtime) list of `part-*` files — NOT on
    * write-API hooks: several writers legitimately bypass
    * [[VectorStore]] (tombstone/posting appends, staged compaction
    * swaps), and a hook-based invalidation would go stale with the next
    * such writer. Fingerprint equality implies schema-inference
    * equality (inference is a function of the file set: footers for
    * data columns, directory names for partition columns), so a hit
    * replays the cached schema via `spark.read.schema(...)` — no
    * inference job — and any change to the file set re-infers. The walk
    * itself is driver-side metadata, the same listing Spark's own
    * InMemoryFileIndex pays on every path read. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Inference is ALSO a function of the session confs that shape it,
    * so their values are part of the cache key beside the directory: a
    * path read under one setting never replays its schema under
    * another. */
  private val InferenceConfs = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema")

  private[graft] def readParquetCached(spark: SparkSession, sfs: StoreFs,
                                       dir: String): DataFrame = {
    val fp =
      try {
        val all = sfs.walkFiles(dir)
        val parts = all.filter(_.getPath.getName.startsWith("part-"))
        // store layouts carry part-* data files; a plain parquet FILE
        // path (the harness base tables — walkFiles on a file is the
        // file itself) or an externally-written directory fingerprints
        // every file Spark's inference would read: the visible set
        // (non-`_`/`.` names — Spark's data-file rule; partition-dir
        // names ride in the paths)
        val files = if (parts.nonEmpty) parts else all.filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (files.isEmpty) null // let spark.read surface the usual errors
        else files.map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
          .sorted.mkString("\n")
      } catch { case _: Throwable => null } // unlistable: fall through, uncached
    if (fp == null) return spark.read.parquet(dir)
    val key = InferenceConfs.map(k => spark.conf.getOption(k).orNull)
      .mkString(s"$dir|", "|", "")
    val hit = schemaCache.get(key)
    if (hit != null && hit._1 == fp) spark.read.schema(hit._2).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      if (schemaCache.size > 8192) schemaCache.clear() // scratch-store churn bound
      schemaCache.put(key, (fp, df.schema))
      df
    }
  }

  /** Clone a whole local store ROOT — [[VectorStore.fork]]'s
    * link-or-copy discipline lifted to the store level (fork clones one
    * collection inside a store; this clones every collection plus the
    * root-level registries): `part-*` parquet payloads are HARDLINKED
    * (immutable under the write discipline — appends create new files,
    * compaction/replace swap directories, tombstone logs truncate by
    * deleting names, sidecars replace via write-tmp-then-atomic-rename;
    * no byte is ever edited through either name), everything else is
    * byte-copied (markers are atomically REPLACED on mutation, which
    * would sever a link anyway). The clone is O(file count) metadata
    * ops with zero data bytes moved, and deleting it frees no shared
    * blocks — the per-invocation clone the mutation fixtures hand each
    * gate costs milliseconds regardless of index size or disk
    * writeback state. Local filesystems only (callers: per-process
    * fixtures, tests); degrades to a byte copy per file where links
    * are unsupported. */
  def cloneTreeLinked(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val s0 = Paths.get(src)
    val walk = Files.walk(s0)
    try walk.forEach { p =>
      val t = Paths.get(dst, s0.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t): Unit
      else if (p.getFileName.toString.startsWith("part-")) {
        try Files.createLink(t, p): Unit
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit }
      } else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit
    } finally walk.close()
  }

  /** The alias registry directory under a store root — `_`-prefixed so
    * Spark scans never mistake it for data, excluded from [[VectorStore.list]]. */
  val AliasDirName = "_aliases"

  /** The sparse-index sidecar name — the catalog's detection key for
    * the weighted-postings family (aliased by
    * [[graft.operators.SparseSearch]], same ownership rule as the text
    * sidecar below). */
  val SparseIndexPropsFile = "_sparse_index.properties"

  /** The text-index sidecar name — defined HERE (store owns layout
    * contracts; graft.text depends on graft.store, never the reverse)
    * and aliased by [[graft.text.TextIndex.PropsFile]]. The catalog
    * uses it to recognize postings layouts without importing the
    * text package. */
  val TextIndexPropsFile = "_text_index.properties"

  /** Tenant/database addressing (the Chroma Cloud client shape —
    * `CloudClient(tenant=..., database=...)`,
    * /root/reference/src/ChromaCloudIngester.py:31-32, and
    * RagWorkflow.py's HttpClient): a database under a tenant is a store
    * root at `<root>/<tenant>/<database>/` — two filesystem levels, no
    * extra machinery, and every store verb (create / mutable / rename /
    * compact / list) works unchanged inside it. Names are validated as
    * single path segments so a tenant id can never escape the root. */
  def forTenant(root: String, tenant: String, database: String): VectorStore = {
    def ok(s: String) = s.nonEmpty && !s.contains('/') && !s.contains('\\') &&
      s != "." && s != ".."
    require(ok(tenant) && ok(database),
      s"tenant/database must be plain path segments, got '$tenant'/'$database'")
    val dir = s"$root/$tenant/$database"
    StoreFs.forPath(dir).mkdirs(dir)
    VectorStore(dir)
  }
}
