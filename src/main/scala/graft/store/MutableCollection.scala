package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Id-level mutation over a parquet-backed collection — the Spark analog
  * of the Chroma collection mutation surface (`upsert`/`update`/`delete`/
  * `get`) that a user of the reference relies on beyond the ingest path
  * the reference code itself exercises
  * (/root/reference/src/PDFToChromaIngester.py uses add/query/
  * delete_collection; the bound client API also carries the id-level
  * verbs).
  *
  * Design: sequence-versioned MERGE-ON-READ tombstones — mutations never
  * rewrite data files (an upsert that touched 0.001% of a 100 TB
  * collection must not rewrite 100 TB):
  *
  *  - every write batch gets a monotonically increasing sequence number
  *    `S`; data rows carry a hidden `_graft_seq = S` column;
  *  - `upsert` appends the batch rows at `S` AND appends `(id, S)`
  *    tombstones: a tombstone kills rows of that id with `_graft_seq < S`,
  *    so the batch's own rows survive and every older version dies;
  *  - `delete` appends tombstones only;
  *  - the live view is base ⟕ broadcast(tombstone max-seq per id) with a
  *    `_graft_seq >= del_seq` filter — the tombstone side is bounded by
  *    ids-ever-mutated (small relative to the corpus by construction of
  *    merge-on-read; when it stops being small, `compact()` folds it to
  *    zero), so the read stays a map-only broadcast join: no shuffle of
  *    the data side, ever;
  *  - `compact()` materializes the live view once, rewrites with the
  *    store's swap discipline, and truncates the tombstone log;
  *    [[compactDirty]] is the bounded alternative — it rewrites ONLY
  *    the files whose dead fraction crossed a threshold (O(dirty), not
  *    O(collection)) and keeps the log; [[compactTombstones]] folds the
  *    LOG to one max-seq row per id (O(log)) and keeps the data — the
  *    three maintenance verbs cover the three growth axes;
  *  - because mutations never destroy row versions, every PAST live
  *    view since the last compact is still on disk: [[readLiveAt]]
  *    reconstructs the state as of any retained sequence (snapshot /
  *    time-travel reads) by bounding both merge sides at that seq —
  *    compaction is the explicit retention boundary ([[floorSeq]]).
  *
  * Sequence allocation is crash-safe by allocating BEFORE writing: the
  * marker file is atomically replaced (temp + rename) with `seq = S`
  * before any data/tombstone bytes land, so a crashed batch's number is
  * never reused. Failure mode of a crash mid-upsert (data landed,
  * tombstones did not): the touched ids transiently show BOTH versions
  * until the upsert is retried at a higher seq — transient duplicate,
  * never silent loss. Single-writer per collection, like the rest of the
  * store.
  *
  * The `_graft_seq` column, `_tombstones/` directory, and
  * `_mutable.properties` marker are all `_`-prefixed, so plain
  * `store.read` / Spark parquet listings never see the bookkeeping — but
  * plain `read` DOES see dead row versions (and the seq column is
  * dropped from [[readLive]]'s output). Query mutable collections
  * through [[readLive]].
  */
final case class MutableCollection(store: VectorStore, name: String) {
  import MutableCollection._

  private def dir = s"${store.root}/$name"
  private def tombDir = s"$dir/$TombstonesDir"

  // recovery ran once through this handle — marker sits on the mutation
  // hot path and is re-read several times per verb; paying the
  // journal/stranded-log existence probes (3 metadata RPCs on HDFS) on
  // every read would multiply namenode traffic for checks that are
  // no-ops in every non-crash run. A handle is single-writer like the
  // store itself, so once-per-handle IS once-per-recovery-opportunity:
  // a crash kills the process, and the next process's fresh handle
  // re-checks.
  @transient private var maintenanceRecovered = false

  private def marker: Marker = {
    // every verb passes through here, so an interrupted compactDirty
    // journal / stranded tombstone log is replayed before anything
    // reads or writes
    if (!maintenanceRecovered) {
      recoverDirtyCompaction()
      maintenanceRecovered = true
    }
    Marker.read(dir).getOrElse(
      throw new IllegalArgumentException(
        s"collection '$name' is not mutable — create it with " +
          "VectorStore.createMutable (id-level mutation needs the sequence " +
          "column immutable collections do not carry)"))
  }

  /** The id column mutations key on (persisted at create). */
  def idCol: String = marker.idCol

  /** The last allocated write sequence (0 right after create). Capture
    * it after a mutation to name that state for [[readLiveAt]]. */
  def currentSeq: Long = marker.seq

  /** The snapshot retention floor: the oldest sequence [[readLiveAt]]
    * can still reconstruct. 0 until the first [[compact]]; compaction
    * raises it to the compaction-time sequence because folding the
    * tombstone log physically drops dead row versions. */
  def floorSeq: Long = marker.floorSeq

  /** Allocate the next write sequence: marker is replaced BEFORE any
    * data lands, so a crashed batch never shares a seq with a later one. */
  private def nextSeq(): Long = {
    val m = marker
    val s = m.seq + 1
    Marker.write(dir, m.copy(seq = s))
    s
  }

  private def requireUniqueIds(df: DataFrame, id: String, op: String): Unit = {
    val r = df.agg(count(lit(1)).as("n"), countDistinct(col(id)).as("d")).head()
    require(r.getLong(0) == r.getLong(1),
      s"$op batch carries duplicate ids (${r.getLong(0)} rows, " +
        s"${r.getLong(1)} distinct '$id') — id-level mutation semantics " +
        "need one row per id per batch")
  }

  private def appendTombstones(ids: DataFrame, seq: Long): Unit =
    ids.select(col(idCol), lit(seq).as(DelSeqCol))
      .write.mode("append").options(bloomOpts(idCol)).parquet(tombDir)

  /** Insert-or-replace: rows whose id exists replace the stored version;
    * new ids insert. One id per batch (enforced — replace order within a
    * batch would otherwise be undefined). Cost: O(batch) writes + one
    * bounded agg; zero base-file rewrites. */
  def upsert(df: DataFrame): Unit = {
    val id = idCol
    // column-set check up front: a parquet append with a divergent
    // schema would land silently and only corrupt reads much later
    val want = store.read(df.sparkSession, name).columns.toSet - SeqCol
    require(df.columns.toSet == want,
      s"upsert schema mismatch: collection has ${want.toSeq.sorted.mkString(", ")} " +
        s"but the batch has ${df.columns.sorted.mkString(", ")}")
    requireUniqueIds(df, id, "upsert")
    val seq = nextSeq()
    // data first, tombstones second: a crash in between leaves a
    // transient duplicate (old + new visible), never a lost row
    // (id blooms on every appended file — see createMutable)
    df.withColumn(SeqCol, lit(seq))
      .write.mode("append").options(bloomOpts(id)).parquet(dir)
    appendTombstones(df.select(col(id)), seq)
  }

  /** Delete by id relation — distributed end to end (the tombstone write
    * is a parquet append of the ids frame, no driver collect). */
  def delete(ids: DataFrame): Unit =
    appendTombstones(ids.select(col(ids.columns.head).as(idCol)).distinct(), nextSeq())

  /** Delete every live row matching a where-DSL predicate (the Chroma
    * `delete(where={...})` shape): one live scan projects the matching
    * ids, which become tombstones — the predicate is evaluated against
    * CURRENT versions, so a row whose latest version no longer matches
    * is untouched. */
  def deleteWhere(spark: SparkSession, whereJson: String): Unit =
    delete(readLive(spark)
      .filter(graft.query.WhereDsl.parse(whereJson))
      .select(col(idCol)))

  /** Delete every live row whose CONTENT matches a where_document
    * clause (the Chroma `delete(where_document={"$contains": ...})`
    * shape); `contentCol` names the text column the clause tests. */
  def deleteWhereDocument(spark: SparkSession, whereDocumentJson: String,
                          contentCol: String): Unit =
    delete(readLive(spark)
      .filter(graft.query.WhereDsl.parseDocument(whereDocumentJson, col(contentCol)))
      .select(col(idCol)))

  /** Content lookup (the Chroma `get(where_document={...})` shape). */
  def getWhereDocument(spark: SparkSession, whereDocumentJson: String,
                       contentCol: String): DataFrame =
    readLive(spark)
      .filter(graft.query.WhereDsl.parseDocument(whereDocumentJson, col(contentCol)))

  /** Delete a bounded explicit id list (the Chroma `delete(ids=[...])`
    * shape). */
  def deleteIds(spark: SparkSession, ids: Seq[Any]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = store.read(spark, name).schema(idCol).dataType
    val df = spark.createDataFrame(
      java.util.Arrays.asList(ids.map(Row(_)): _*),
      StructType(Seq(StructField(idCol, idType))))
    delete(df)
  }

  /** Partial update (the Chroma `update` shape): `df` carries the id
    * column plus ANY SUBSET of the collection's other columns; listed
    * columns replace the stored values for existing ids, unlisted
    * columns keep their stored values. Ids not in the collection are
    * ignored (Chroma warns-and-skips on unknown ids). Implemented as
    * read-merge-upsert: one live read of the touched ids + one upsert.
    *
    * DELTA-BOUNDED like [[changesBetween]]: a batch of at most
    * [[MutableCollection.IsinMaxIdsConf]] ids (the common point-update
    * regime) pushes the id set as an `In` predicate into the live scan
    * — parquet stats prune row groups, so updating 10 ids of a 100 TB
    * collection reads O(10 row groups), not the corpus. Bigger batches
    * keep the plain equi-join (bounded by the batch either way). */
  def update(spark: SparkSession, df: DataFrame): Unit = {
    val id = idCol
    // pin the batch ONCE: it is consumed twice (the In-pushdown id
    // collect and the merge join) — a nondeterministic input frame
    // (unordered limit, sample, stage retry) could otherwise yield two
    // different id sets, silently dropping updates whose rows joined
    // but missed the In-list (the deleteImpl/ivfBatchSink discipline)
    val batch = df.localCheckpoint(true)
    requireUniqueIds(batch, id, "update")
    val maxIn = spark.conf.getOption(IsinMaxIdsConf).map(_.toInt).getOrElse(1000)
    val batchIds = batch.select(col(id)).take(maxIn + 1)
    val live0 = readLive(spark)
    val live =
      if (batchIds.length <= maxIn)
        live0.filter(col(id).isInCollection(batchIds.map(_.get(0)).toSeq))
      else live0
    val newCols = batch.columns.filterNot(_ == id).toSet
    val renamed = newCols.foldLeft(batch)((d, c) => d.withColumnRenamed(c, c + "__new"))
    val merged = live.join(renamed, Seq(id)) // inner: unknown ids drop out
      .select(live.columns.map { c =>
        if (newCols.contains(c)) col(c + "__new").as(c) else col(c)
      }.toSeq: _*)
    upsert(merged)
  }

  /** The live view: every row version not killed by a tombstone, seq
    * column stripped. Map-only in the expected regime — the tombstone
    * side aggregates to one (id, max seq) row per ever-mutated id and
    * broadcasts; the data side is scanned once with no shuffle. With an
    * empty tombstone log the join is skipped entirely.
    *
    * The broadcast is SIZE-GATED on the log's on-disk footprint (no
    * extra job — parquet file lengths, x4 for decode expansion): a
    * deployment that lets the log grow past broadcast comfort without
    * compacting degrades to a shuffled join instead of OOMing — and the
    * degradation is the signal to run [[compact]]. */
  def readLive(spark: SparkSession): DataFrame = {
    marker: Unit // fail fast on non-mutable collections
    liveWithSeq(spark).drop(SeqCol)
  }

  /** Snapshot (time-travel) read: the live view AS OF sequence
    * `asOfSeq` — exactly what [[readLive]] returned when the marker
    * stood at that sequence: row versions written at `seq <= asOfSeq`,
    * minus tombstones at `seq <= asOfSeq`. Mutations never rewrite
    * files, so every snapshot since the last [[compact]] reconstructs
    * from the very files the live read uses — the same map-only merge
    * with both sides pre-filtered by seq (the data-side bound is a
    * plain pushed-down predicate on the hidden seq column; nothing
    * extra is stored, read, or shuffled).
    *
    * [[compact]] is the retention boundary: it folds history into the
    * compaction-time live view (dead versions are physically dropped),
    * so sequences older than [[floorSeq]] are gone — asking for one
    * throws rather than returning a silently wrong mixture. */
  def readLiveAt(spark: SparkSession, asOfSeq: Long): DataFrame = {
    val m = marker
    require(asOfSeq <= m.seq,
      s"snapshot $asOfSeq does not exist yet — '$name' is at sequence ${m.seq}")
    require(asOfSeq >= m.floorSeq,
      s"snapshot $asOfSeq predates the last compact of '$name' " +
        s"(retention floor ${m.floorSeq}) — compaction folds dead row " +
        "versions away, so older states are no longer reconstructible")
    liveWithSeq(spark, asOf = Some(asOfSeq)).drop(SeqCol)
  }

  /** Change-data read between two retained snapshots (the CDC companion
    * of [[readLiveAt]]): one row per id whose live value differs between
    * `fromSeq` and `toSeq` — `change` ∈ insert / update / delete, with
    * the row payload (the NEW values; for a delete, the values the row
    * had IN THE `fromSeq` STATE — a row updated and later deleted
    * within the span reports its `fromSeq` values, because the diff is
    * between the two endpoint states, not a replay of the intermediate
    * history).
    *
    * DELTA-BOUNDED past a cost threshold: an id's live value can differ
    * between the two endpoint states ONLY if a data row or a tombstone
    * landed for it in `(fromSeq, toSeq]` — every state transition
    * writes one or the other. Execution tiers by measured size (the
    * connected-components precedent: never pay delta-probe job overhead
    * on a collection that one job diffs outright):
    *
    *  - collection on-disk footprint at most
    *    [[MutableCollection.SmallCollectionBytesConf]] (default 64 MB):
    *    plain full-outer join of the two snapshot views — ONE job, the
    *    cheapest possible shape at that size (an unlistable path counts
    *    as too-big, failing CLOSED into the delta tiers);
    *  - bigger collections first derive the TOUCHED id set from the
    *    seq-range-bounded slice of data + tombstones (plain pushed-down
    *    range predicates on the hidden seq columns; each write batch
    *    lands as its own files with a constant seq, so parquet min/max
    *    stats prune the slice scan to O(delta) files), then resolve the
    *    old/new endpoint state for THOSE ids only:
    *      - at most [[MutableCollection.IsinMaxIdsConf]] touched ids
    *        (default 1000 — the overwhelmingly common CDC poll): the id
    *        set is collected by ONE bounded `take` and pushed as an
    *        `In` predicate into both snapshot scans — endpoint
    *        resolution costs no join at all, and parquet column stats
    *        prune row groups by id;
    *      - larger deltas: a size-gated broadcast semi-join per side
    *        keeps the snapshot scans map-only (an enormous delta
    *        degrades to a shuffled semi-join proportional to the change
    *        span, never the corpus).
    *
    * In the delta tiers the final old-vs-new diff join carries O(delta)
    * rows — at 100 TB with a 0.001% change span, the naive full-outer
    * of two complete snapshot views (two full scans + a corpus-keyed
    * shuffle per poll) becomes a pruned delta scan + two id-pruned
    * lookups.
    *
    * Both endpoints must be retained ([[floorSeq]]); same-seq endpoints
    * yield an empty frame. */
  def changesBetween(spark: SparkSession, fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq,
      s"changesBetween: fromSeq $fromSeq > toSeq $toSeq")
    val a = readLiveAt(spark, fromSeq)
    val b = readLiveAt(spark, toSeq)
    val id = idCol
    val cols = a.columns.filterNot(_ == id)
    require(!a.columns.exists(Set("change", "_old", "_new", "_row")),
      "changesBetween: collection columns collide with the CDC output " +
        "(change) / internals (_old/_new/_row) — rename them first")
    def diffJoin(aT: DataFrame, bT: DataFrame): DataFrame = {
      val aS = aT.select(col(id), struct(cols.map(col): _*).as("_old"))
      val bS = bT.select(col(id), struct(cols.map(col): _*).as("_new"))
      val joined = aS.join(bS, Seq(id), "full")
        .withColumn("change",
          when(col("_old").isNull, "insert")
            .when(col("_new").isNull, "delete")
            .when(!(col("_old") <=> col("_new")), "update"))
        .filter(col("change").isNotNull)
        .withColumn("_row", coalesce(col("_new"), col("_old")))
      joined.select(
        col("change") +: col(id) +: cols.map(c => col(s"_row.$c").as(c)): _*)
    }
    // cost tier: a collection one job diffs outright must not pay the
    // delta-probe job — the full-outer of the two views IS optimal there
    val smallBytes = spark.conf.getOption(SmallCollectionBytesConf)
      .map(_.toLong).getOrElse(64L << 20)
    if (collectionBytesOnDisk <= smallBytes) return diffJoin(a, b)
    // touched ids: one seq-pushed bounded scan of the (from, to] write
    // slice (data rows + tombstones). Bounded by the change span by
    // construction; probed with a take(maxIn + 1) — ONE bounded job.
    val maxIn = spark.conf.getOption(IsinMaxIdsConf).map(_.toInt).getOrElse(1000)
    val spanIds = touchedIdsDelta(spark, fromSeq, toSeq).distinct()
    val probe = spanIds.take(maxIn + 1)
    if (probe.isEmpty) {
      // nothing written in the span — skip the snapshot scans entirely
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("change",
          org.apache.spark.sql.types.StringType) +:
          (a.schema(id) +: cols.map(a.schema(_))))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    }
    if (probe.length <= maxIn) {
      // small delta (the 100 TB CDC regime): the touched id set rides
      // as an In predicate pushed into BOTH snapshot scans — endpoint
      // resolution costs no join at all, and parquet stats/dictionary
      // pages prune row groups by id on the base files
      val lits = probe.map(_.get(0)).toSeq
      diffJoin(a.filter(col(id).isInCollection(lits)),
        b.filter(col(id).isInCollection(lits)))
    } else {
      // oversized delta: resolve via semi-joins — pin the span scan
      // once so the two sides share it; the broadcast is size-gated
      // (an enormous delta degrades to a shuffled semi-join that is
      // proportional to the change span, never the corpus)
      val touched = spanIds.localCheckpoint(true)
      val touchedKeyed = graft.operators.BroadcastGate
        .maybeBroadcast(touched, touched.count() * 128)
      diffJoin(a.join(touchedKeyed, Seq(id), "left_semi"),
        b.join(touchedKeyed, Seq(id), "left_semi"))
    }
  }

  /** The ids a write in `(fromSeq, toSeq]` touched — the delta scan
    * [[changesBetween]] bounds itself by: data rows and tombstones whose
    * seq falls in the span, as plain range predicates on the hidden seq
    * columns (PushedFilters; each batch's files carry a constant seq, so
    * parquet min/max stats prune untouched files). Exposed to the spec
    * so the pushdown shape stays pinned. */
  private[graft] def touchedIdsDelta(spark: SparkSession, fromSeq: Long,
                                     toSeq: Long): DataFrame = {
    val touchedData = writtenIn(spark, fromSeq, toSeq).select(col(idCol))
    readTombstones(spark)
      .map(t => touchedData.union(
        t.filter(col(DelSeqCol) > fromSeq && col(DelSeqCol) <= toSeq)
          .select(col(idCol))))
      .getOrElse(touchedData)
  }

  /** Every row version written in `(fromSeq, toSeq]` — dead ones
    * included — as a plain range predicate on the hidden seq column
    * (PushedFilters; each batch's files carry a constant seq, so parquet
    * min/max stats prune the scan to O(delta) files). The delta read of
    * the CDC probe and of every live-index refresh. */
  private[graft] def writtenIn(spark: SparkSession, fromSeq: Long,
                               toSeq: Long): DataFrame =
    store.read(spark, name).filter(col(SeqCol) > fromSeq && col(SeqCol) <= toSeq)

  /** The merged view WITH the seq column (compact must preserve it —
    * later tombstones still order against surviving rows). With `asOf`
    * set, both sides are bounded at that sequence first (snapshot
    * semantics). */
  private[graft] def liveWithSeq(spark: SparkSession,
                                 asOf: Option[Long] = None): DataFrame = {
    val base0 = store.read(spark, name)
    val base = asOf.fold(base0)(s => base0.filter(col(SeqCol) <= s))
    applyTombstoneFilter(spark, base, asOf)
  }

  /** THE live filter: left-join `rows` (which must carry [[idCol]] and
    * the hidden seq column) against the per-id max tombstone seq and
    * keep versions at or above it. Package-visible so index readers
    * over DERIVED relations (the mutable-IVF candidate set) apply the
    * exact same rule the collection's own reads use — a reimplemented
    * copy would drift. With `asOf` set, only tombstones at or below
    * that sequence count (snapshot semantics). */
  private[graft] def applyTombstoneFilter(spark: SparkSession, rows: DataFrame,
                                          asOf: Option[Long] = None): DataFrame =
    withLiveFlag(spark, rows, asOf)
      .filter(col(MutableCollection.LiveCol))
      .drop(MutableCollection.LiveCol)

  /** The live rule as a FLAG column instead of a filter — the same
    * tombstone join [[applyTombstoneFilter]] is defined through (one
    * code path, so the rule cannot drift between the filter form and
    * the flag form). Consumers that need live and non-live rows in ONE
    * pass (the vacuum accounting: n_live / n_garbage / n_pending per
    * cell used to be TWO scans of the index joined back together)
    * aggregate over the flag instead. */
  private[graft] def withLiveFlag(spark: SparkSession, rows: DataFrame,
                                  asOf: Option[Long] = None): DataFrame =
    readTombstones(spark) match {
      case Some(t0) =>
        val t = asOf.fold(t0)(s => t0.filter(col(DelSeqCol) <= s))
        val dels = t.groupBy(idCol).agg(max(col(DelSeqCol)).as(DelSeqCol))
        // saturating x4 decode-expansion estimate: a FAIL-CLOSED size
        // probe (Long.MaxValue on an unmeasurable path) must stay
        // "too big", not overflow into a spurious broadcast
        val est = tombstoneBytesOnDisk
        val est4 = if (est > Long.MaxValue / 4) Long.MaxValue else est * 4
        rows.join(graft.operators.BroadcastGate.maybeBroadcast(
            dels, est4), Seq(idCol), "left")
          .withColumn(MutableCollection.LiveCol,
            col(DelSeqCol).isNull || col(SeqCol) >= col(DelSeqCol))
          .drop(DelSeqCol)
      case None => rows.withColumn(MutableCollection.LiveCol, lit(true))
    }

  /** Tombstone-log footprint for the broadcast gate. FAILS CLOSED: a
    * missing log is 0, but an I/O error on an existing path reads as
    * Long.MaxValue — an unmeasurable log must degrade the merge to a
    * shuffled join, never silently force the broadcast open (the
    * `File.listFiles == null -> 0` trap this replaces). */
  private def tombstoneBytesOnDisk: Long =
    try store.sfs.list(tombDir)
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
    catch { case _: java.io.IOException => Long.MaxValue }

  /** Total on-disk footprint of the collection (data + tombstones +
    * bookkeeping — a metadata walk, no Spark job). FAILS CLOSED: an
    * unlistable root reads as Long.MaxValue, so the small-collection
    * CDC fast path never triggers on a path whose size cannot be
    * measured. */
  private def collectionBytesOnDisk: Long = store.sfs.treeBytesFailClosed(dir)

  private def readTombstones(spark: SparkSession): Option[DataFrame] = {
    val hasData = store.sfs.list(tombDir)
      .exists(_.getPath.getName.startsWith("part-"))
    // schema-cached read (fingerprint-keyed, so tombstone appends
    // re-infer): the live filter runs several times per maintenance
    // verb, and each uncached read is a footer-inference Spark job
    if (hasData) Some(VectorStore.readParquetCached(spark, store.sfs, tombDir))
    else None
  }

  /** Bounded point lookup (the Chroma `get(ids=[...])` shape). */
  def get(spark: SparkSession, ids: Seq[Any]): DataFrame =
    readLive(spark).filter(col(idCol).isin(ids: _*))

  /** Predicate lookup (the Chroma `get(where={...})` shape). */
  def getWhere(spark: SparkSession, whereJson: String): DataFrame =
    readLive(spark).filter(graft.query.WhereDsl.parse(whereJson))

  /** Paginated live read in id order (the Chroma `get(limit=, offset=)`
    * shape). The id-ordered prefix is a TakeOrdered (k rows per
    * partition cross the network, never the collection); the offset cut
    * is a window over ONLY those offset+limit rows — an unpartitioned
    * window, i.e. all offset+limit rows funnel through ONE task (Spark
    * logs its single-partition warning), which is exactly the
    * O(offset+limit) cost offset pagination implies anyway. Fine for
    * shallow pages; for stable deep paging, filter `id > lastSeen`
    * instead (keyset pagination). */
  def getPage(spark: SparkSession, limit: Int, offset: Int = 0): DataFrame = {
    require(limit > 0 && offset >= 0, s"bad page: limit=$limit offset=$offset")
    require(offset.toLong + limit <= Int.MaxValue,
      s"page end ${offset.toLong + limit} overflows Int (limit=$limit offset=$offset)")
    val top = readLive(spark).orderBy(col(idCol)).limit(offset + limit)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
    top.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > offset).drop("_rn")
  }

  /** KEYSET pagination — the scale path [[getPage]]'s scaladoc
    * prescribes, now callable: the live rows with `id > lastId`, id
    * order, first `limit`. The cursor predicate is a pushed-down scan
    * filter (parquet min/max + the id bloom prune row groups) and the
    * prefix is a TakeOrdered — k rows per partition cross the network
    * and NO single-partition window exists anywhere in the plan
    * (spec-pinned), so page 1000 costs what page 1 costs. Pages are
    * stable under concurrent appends in the usual keyset sense: a page
    * is defined by its cursor, not by a shifting global offset. Page
    * through with `lastId` = the previous page's max id (start below
    * the domain for page 1); on an unchanged collection
    * `getAfter(lastSeen, n)` ≡ `getPage(n, offset-of-lastSeen)`
    * (gate-checked). */
  def getAfter(spark: SparkSession, lastId: Any, limit: Int): DataFrame = {
    require(limit > 0, s"bad page: limit=$limit")
    readLive(spark).filter(col(idCol) > lit(lastId))
      .orderBy(col(idCol)).limit(limit)
  }

  /** Live row count (post-tombstone). */
  def countLive(spark: SparkSession): Long = readLive(spark).count()

  /** Fold the tombstone log into the data: rewrite the live view (seq
    * column PRESERVED — later tombstones must still order against
    * surviving rows) with the store's staged-swap discipline, then
    * truncate the log. Run when the tombstone set grows past broadcast
    * comfort; afterwards reads skip the join entirely. */
  def compact(spark: SparkSession): Unit = {
    val m = marker
    val live = liveWithSeq(spark)
    val tmpName = name + "__compacting"
    // the rewrite keeps the id blooms — compaction must not silently
    // strip the row-group pruning the delta-bounded reads rely on
    live.write.mode("overwrite").options(bloomOpts(idCol))
      .parquet(s"${store.root}/$tmpName")
    // compaction drops dead versions, so states before this sequence
    // stop being reconstructible — raise the snapshot retention floor
    Marker.write(s"${store.root}/$tmpName", m.copy(floorSeq = m.seq))
    CollectionManifest.read(dir).foreach(
      CollectionManifest.write(s"${store.root}/$tmpName", _))
    val meta = CollectionMeta.read(dir)
    if (meta.nonEmpty) CollectionMeta.write(s"${store.root}/$tmpName", meta)
    val fsm = store.sfs
    fsm.deleteTree(s"${dir}__old")
    require(fsm.rename(dir, s"${dir}__old"),
      s"mutable compact: cannot stage $name aside")
    if (!fsm.rename(s"${store.root}/$tmpName", dir)) {
      val restored = fsm.rename(s"${dir}__old", dir)
      throw new IllegalStateException(
        if (restored) s"mutable compact swap failed for $name; original restored"
        else s"mutable compact swap failed for $name AND restore failed — " +
          s"data is under ${name}__old (auto-recovered on next open)")
    }
    fsm.deleteTree(s"${dir}__old")
  }

  /** TARGETED compaction: rewrite only the data files whose DEAD-ROW
    * fraction is at least `minDeadFraction`, reclaiming their space and
    * unmasking their reads — at O(dirty bytes) rewrite cost instead of
    * [[compact]]'s O(collection) full rewrite. The 100 TB maintenance
    * shape: nightly churn concentrates dead versions in the few files
    * recent batches touched; rewriting those is bounded by the churn,
    * not the corpus.
    *
    * What it does NOT do: the tombstone log is kept whole (a tombstone
    * may still mask dead versions in files below the threshold), so the
    * live view is PROVABLY unchanged — rewritten files hold exactly
    * their live rows (which pass the tombstone filter by definition of
    * live), untouched files still merge against the full log. Run
    * [[compact]] when the LOG ITSELF outgrows broadcast comfort; run
    * this when dead bytes do.
    *
    * Retention: physically dropping dead versions makes states before
    * the current sequence unreconstructible (same consequence as
    * [[compact]]), so the snapshot floor rises to the current sequence
    * BEFORE anything is deleted.
    *
    * Crash safety — journaled promote/delete: the rewritten files land
    * in an invisible `_`-prefixed staging dir, then ONE atomic journal
    * write commits the op; execution (promote staged files, delete
    * dirty originals, in that order) is the SAME idempotent routine the
    * next verb replays if this process dies mid-way. Promote-first
    * means a crash window shows transient duplicates (old + rewritten
    * rows both visible), never missing rows — the upsert crash-ordering
    * discipline. Plan cost before the rewrite: one COLUMN-PRUNED
    * map-only pass over (id, seq, file) to score files — no data
    * columns read, no shuffle of the data side (the tombstone max-seq
    * side rides the usual size-gated broadcast).
    *
    * Returns the rewritten file names (empty = nothing crossed the
    * threshold; no marker or file was touched). */
  /** Compaction ADVISOR — the report half of [[compactDirty]]'s
    * score-then-rewrite: the SAME dead-version predicate (a version is
    * dead when a per-id max tombstone seq outranks it), aggregated
    * collection-wide with nothing touched — the policy input for
    * scheduling maintenance windows before paying any rewrite. One row:
    * version/dead/live counts, floor-rounded dead ratio, and the
    * recommendation under an INTEGER-EXACT ppm rule
    * (dead·1e6 ≥ versions·round(frac·1e6)) so the boolean can sit under
    * a cross-engine oracle hash with no float-compare boundary. Plan
    * cost: one column-pruned (id, seq) metadata-grade scan — the same
    * narrow pass compactDirty scores files with — folded to a single
    * partial-aggregated row; the tombstone side rides the usual
    * size-gated broadcast. */
  def compactionReport(spark: SparkSession,
                       minDeadFraction: Double = 0.3): DataFrame = {
    import spark.implicits._
    marker: Unit // fail fast on non-mutable collections
    val data = store.read(spark, name).select(col(idCol), col(SeqCol))
    val withDels = readTombstones(spark) match {
      case Some(t0) =>
        val dels = t0.groupBy(idCol).agg(max(col(DelSeqCol)).as(DelSeqCol))
        val est = tombstoneBytesOnDisk
        val est4 = if (est > Long.MaxValue / 4) Long.MaxValue else est * 4
        data.join(graft.operators.BroadcastGate.maybeBroadcast(dels, est4),
          Seq(idCol), "left")
      case None => data.withColumn(DelSeqCol, lit(null).cast("long"))
    }
    val dead = col(DelSeqCol).isNotNull && col(SeqCol) < col(DelSeqCol)
    val row = withDels
      .agg(count(lit(1)).as("n"), count(when(dead, lit(1))).as("d")).head
    val (n, d) = (row.getLong(0), row.getLong(1))
    val ppm = math.round(minDeadFraction * 1e6)
    Seq((n, d, n - d,
        if (n == 0) 0.0 else math.floor(d.toDouble / n * 1e6 + 0.5) / 1e6,
        n > 0 && d * 1000000L >= n * ppm))
      .toDF("n_versions", "n_dead", "n_live", "dead_ratio",
        "recommend_compact")
  }

  def compactDirty(spark: SparkSession, minDeadFraction: Double = 0.3): Seq[String] = {
    require(minDeadFraction > 0.0 && minDeadFraction <= 1.0,
      s"minDeadFraction must be in (0, 1], got $minDeadFraction")
    val m = marker // replays any interrupted journal first
    val fsm = store.sfs
    val dels0 = readTombstones(spark) match {
      case Some(t) => t.groupBy(idCol).agg(max(col(DelSeqCol)).as(DelSeqCol))
      case None => return Nil // no tombstones — nothing can be dead
    }
    val est = tombstoneBytesOnDisk
    val est4 = if (est > Long.MaxValue / 4) Long.MaxValue else est * 4
    def withDels(df: DataFrame): DataFrame =
      df.join(graft.operators.BroadcastGate.maybeBroadcast(dels0, est4),
        Seq(idCol), "left")
    // score files by dead fraction: id+seq+file only — column pruning
    // keeps this a narrow metadata-grade scan even on wide collections
    val dead = col(DelSeqCol).isNotNull && col(SeqCol) < col(DelSeqCol)
    val dirtyPaths = withDels(store.read(spark, name)
        .select(col(idCol), col(SeqCol), col("_metadata.file_path").as("_file")))
      .groupBy("_file")
      .agg(count(lit(1)).as("_n"), count(when(dead, lit(1))).as("_dead"))
      .filter(col("_dead") > 0 &&
        col("_dead") >= col("_n") * lit(minDeadFraction))
      .select("_file")
      .collect().map(r => new org.apache.hadoop.fs.Path(r.getString(0)))
      .sortBy(_.getName) // bounded by the file count, like any listing
    if (dirtyPaths.isEmpty) return Nil
    val dirtyNames = dirtyPaths.map(_.getName).toSeq
    val stage = s"$dir/$RewriteStageDir"
    fsm.deleteTree(stage)
    val dirtyData = spark.read.parquet(dirtyPaths.map(_.toString).toIndexedSeq: _*)
    withDels(dirtyData)
      .filter(col(DelSeqCol).isNull || col(SeqCol) >= col(DelSeqCol))
      .select(dirtyData.columns.map(col).toIndexedSeq: _*) // original column order
      .write.mode("overwrite").options(bloomOpts(idCol)).parquet(stage)
    val staged = fsm.list(stage).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted
    // floor first: once the journal commits, dead versions start
    // disappearing — a crash right here costs retention, never data
    Marker.write(dir, m.copy(floorSeq = m.seq))
    Journal.write(fsm, s"$dir/$JournalFile", RewriteStageDir, dirtyNames, staged)
    recoverDirtyCompaction() // execution IS the crash-recovery routine
    dirtyNames
  }

  /** Fold the tombstone LOG to one (id, max seq) row per ever-mutated
    * id — O(log) maintenance, completing the triad: this shrinks the
    * LOG (the broadcast side of every live read) without touching data
    * files, [[compactDirty]] reclaims dead DATA bytes without touching
    * the log, [[compact]] rewrites everything. The live filter only
    * ever consults the per-id MAX tombstone seq, so folding is
    * invisible to the live view by construction; what it destroys is
    * the log's HISTORY (an id's earlier tombstones), so — like the
    * other two — it raises the snapshot retention floor before
    * touching anything. The swap uses the stage-aside discipline with
    * its own stranded-log recovery: a crash between the two renames
    * would otherwise leave NO log and silently resurrect every deleted
    * row. */
  def compactTombstones(spark: SparkSession): Unit = {
    val m = marker // replays any interrupted maintenance first
    val fsm = store.sfs
    val folded = readTombstones(spark) match {
      case Some(t) => t.groupBy(idCol).agg(max(col(DelSeqCol)).as(DelSeqCol))
      case None => return // nothing to fold
    }
    val tmp = s"$dir/${TombstonesDir}__folding"
    val old = s"$dir/${TombstonesDir}__old"
    fsm.deleteTree(tmp)
    folded.write.mode("overwrite").options(bloomOpts(idCol)).parquet(tmp)
    // folding drops an id's non-latest tombstones — states between them
    // stop resolving correctly, so retention floors at the current seq
    Marker.write(dir, m.copy(floorSeq = m.seq))
    fsm.deleteTree(old)
    require(fsm.rename(tombDir, old),
      s"compactTombstones: cannot stage the log of '$name' aside")
    if (!fsm.rename(tmp, tombDir)) {
      val restored = fsm.rename(old, tombDir)
      throw new IllegalStateException(
        if (restored) s"compactTombstones swap failed for $name; log restored"
        else s"compactTombstones swap failed for $name AND restore failed — " +
          s"log is under ${TombstonesDir}__old (auto-recovered on next verb)")
    }
    fsm.deleteTree(old)
  }

  /** Replay (or complete) a journaled [[compactDirty]]: promote every
    * staged file still in the staging dir, then delete every listed
    * dirty original, then clear journal + staging. Idempotent — every
    * step skips what a previous attempt already did. Also heals a
    * [[compactTombstones]] swap stranded between its two renames (the
    * log exists only under the `__old` stage — without the heal, every
    * deleted row would silently resurrect). */
  private def recoverDirtyCompaction(): Unit = {
    val fsm = store.sfs
    val oldLog = s"$dir/${TombstonesDir}__old"
    if (!fsm.exists(tombDir) && fsm.isDir(oldLog))
      fsm.rename(oldLog, tombDir): Unit
    val jPath = s"$dir/$JournalFile"
    Journal.read(fsm, jPath).foreach { j =>
      val stage = s"$dir/${j.stageDir}"
      j.promotes.foreach { n =>
        if (fsm.exists(s"$stage/$n"))
          require(fsm.rename(s"$stage/$n", s"$dir/$n"),
            s"compactDirty recovery: cannot promote $n into '$name'")
      }
      j.deletes.foreach(n => fsm.deleteTree(s"$dir/$n"))
      fsm.deleteTree(jPath)
      fsm.deleteTree(stage)
    }
  }
}

object MutableCollection {
  /** Parquet writer options minting a BLOOM FILTER on the id column of
    * every data/tombstone file a mutable collection writes. Why: the
    * delta-bounded read paths (update / get / the CDC In-pushdown tier)
    * prune row groups by id, and with randomly-ordered ids the
    * row-group min/max stats span the whole id domain — they prune
    * nothing. The bloom is the structure that lets a bounded-id lookup
    * skip the groups that cannot contain those ids (parquet-mr applies
    * it to pushed Eq/In predicates at filter time). ADAPTIVE sizing
    * (parquet 1.14+): the writer keeps candidate blooms and ships the
    * smallest that fits the row group's OBSERVED distinct count — a
    * 300-row gate file pays a few hundred bytes while a 1M-row
    * production row group gets a properly-sized filter, with no
    * hand-tuned NDV to go stale. */
  private[store] def bloomOpts(idCol: String): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$idCol" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true")

  /** Spark conf key: max touched ids [[MutableCollection.changesBetween]]
    * resolves via an In-predicate pushdown before degrading to the
    * semi-join tier (default 1000; 0 forces the semi-join path). */
  val IsinMaxIdsConf = "graft.cdc.isinMaxIds"
  /** Spark conf key: collection on-disk bytes under which
    * [[MutableCollection.changesBetween]] diffs the two snapshot views
    * with one plain full-outer job instead of the delta-probe tiers
    * (default 64 MB; 0 forces delta-bounding). */
  val SmallCollectionBytesConf = "graft.cdc.smallCollectionBytes"
  /** Hidden per-row write-sequence column. */
  val SeqCol = "_graft_seq"
  /** Tombstone max-seq column (tombstone files + transient join column). */
  val DelSeqCol = "_graft_del_seq"
  /** Transient boolean column [[MutableCollection.withLiveFlag]] adds:
    * true iff the row survives the tombstone merge at the asOf seq. */
  private[graft] val LiveCol = "_graft_live"
  /** Tombstone log directory (underscore-prefixed: invisible to Spark's
    * parquet listing of the collection directory). */
  val TombstonesDir = "_tombstones"
  private val MarkerFile = "_mutable.properties"
  /** [[MutableCollection.compactDirty]] staging dir (underscore-prefixed:
    * rewritten files are invisible until the journal promotes them). */
  private[graft] val RewriteStageDir = "_rewrite_stage"
  /** The compactDirty commit journal: its atomic write is the point of
    * no return — before it, nothing destructive has happened; after it,
    * execution/recovery completes the promote+delete idempotently. */
  private[graft] val JournalFile = "_compaction.journal"

  private[store] final case class Journal(stageDir: String,
                                          deletes: Seq[String],
                                          promotes: Seq[String])

  private[store] object Journal {
    def write(fsm: StoreFs, path: String, stageDir: String,
              deletes: Seq[String], promotes: Seq[String]): Unit = {
      val props = new java.util.Properties()
      props.setProperty("stage", stageDir)
      deletes.zipWithIndex.foreach { case (n, i) =>
        props.setProperty(s"delete.$i", n) }
      promotes.zipWithIndex.foreach { case (n, i) =>
        props.setProperty(s"promote.$i", n) }
      // atomic: the journal either exists whole or not at all — a torn
      // journal would replay a partial delete list
      fsm.writePropsAtomic(path, props, "graft compactDirty journal")
    }

    def read(fsm: StoreFs, path: String): Option[Journal] =
      fsm.readProps(path).map { props =>
        def entries(prefix: String): Seq[String] =
          Iterator.from(0).map(i => props.getProperty(s"$prefix.$i"))
            .takeWhile(_ != null).toSeq
        Journal(props.getProperty("stage"),
          entries("delete"), entries("promote"))
      }
  }

  private[graft] final case class Marker(idCol: String, seq: Long,
                                         floorSeq: Long = 0L)

  private[graft] object Marker {
    def write(collectionDir: String, m: Marker): Unit = {
      val props = new java.util.Properties()
      props.setProperty("idCol", m.idCol)
      props.setProperty("seq", m.seq.toString)
      props.setProperty("floorSeq", m.floorSeq.toString)
      StoreFs.forPath(collectionDir).writePropsAtomic(
        s"$collectionDir/$MarkerFile", props, "graft mutable collection marker")
    }

    def read(collectionDir: String): Option[Marker] =
      StoreFs.forPath(collectionDir)
        .readProps(s"$collectionDir/$MarkerFile")
        .map(props => Marker(props.getProperty("idCol"),
          props.getProperty("seq", "0").toLong,
          props.getProperty("floorSeq", "0").toLong))
  }
}
