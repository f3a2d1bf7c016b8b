// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField,
  StructType}

/** Versioned parquet table with change-data-feed, the engine's one
  * genuinely custom storage component. Re-creates the observable
  * semantics of the reference's Delta usage (no Delta jar in this
  * environment): versioned commits, CDF reads with
  * `_change_type`/`_commit_version`/`_commit_timestamp`, MERGE as
  * insert-if-absent / delete-if-matched, vacuum that does not advance
  * the logical version.
  *
  * Reference behavior being reproduced (SURVEY.md §2.1, file:line under
  * /root/reference): CDF read options `patient_notes/src/patient_notes/
  * datalake.py:88-94`, merge branches `datalake.py:194-211`, vacuum
  * `patient_notes/tests/test_datalake.py:229-269`, update CDC rows
  * `common_types.py:70-82`.
  *
  * Layout:
  * {{{
  *   <path>/_log/<v>.json           commit metadata (atomic hard-link publish)
  *   <path>/data/v=<v>/w-<uuid>/    parquet files added by one commit attempt
  *   <path>/changes/v=<v>/w-<uuid>/ row-level changes (+_change_type)
  * }}}
  * Each write ATTEMPT gets its own `w-<uuid>` directory and the log
  * entry lists the exact files — racing committers can never
  * interleave files in a shared directory, and a loser's directory is
  * unreferenced garbage for vacuum.
  *
  * The log tracks file-level adds/removes (Delta-style): `snapshot` reads
  * the union of live files, so appends never rewrite existing data. Only
  * row-deleting commits (merge-delete, update, overwrite) rewrite — a
  * copy-on-write of the live set. At cluster scale the rewrite is a
  * distributed parquet write (no driver materialization); partition-
  * scoped rewrites are the natural next step and the API keeps the
  * commit path isolated so that can land without changing callers.
  *
  * One commit protocol ([[publish]]): every commit claims the next log
  * version by an atomic hard link and checks the commits that landed
  * since its read against the verb's conflict rule. Single-shot verbs
  * (the reference's orchestrated, one-activity-at-a-time pipelines)
  * admit no winner: a loser fails with ConcurrentModificationException
  * rather than corrupts. The concurrent verbs (appendConcurrent,
  * mergeConcurrent, deleteVectored) admit the winners they commute
  * with.
  */
final class MiniLake(spark: SparkSession, val path: String,
    compact: Boolean = false,
    bucketSpecAtCreate: Option[MiniLake.BucketSpec] = None,
    partitionColsAtCreate: Seq[String] = Seq.empty,
    generatedColsAtCreate: Seq[(String, String)] = Seq.empty,
    identityColAtCreate: Option[MiniLake.IdentitySpec] = None) {
  import MiniLake._

  // capture the session AQE default at construction — before any
  // commit can be mid-toggle — so withCommitPlanning restores a value
  // read outside every toggle window
  MiniLake.aqeSessionDefault(spark)

  private val root = Paths.get(path)
  private val logDir = root.resolve("_log")
  // key for the JVM-shared immutable-log caches: all instances of one
  // table must agree on it regardless of path spelling
  private val canonPath = root.toAbsolutePath.normalize.toString

  /** Create-time properties (bucket layout, partition columns,
    * generated columns) are immutable once the first entry exists —
    * resolved once and cached forever. Per-commit re-resolution
    * re-read the v0 entry and re-listed the log directory three
    * times per commit: measurable at 1,000-commit lifecycles.
    */
  @volatile private var createProps: Option[(Option[BucketSpec],
    Seq[String], Seq[(String, String)], Option[IdentitySpec])] = None
  private def resolveCreateProps: (Option[BucketSpec], Seq[String],
      Seq[(String, String)], Option[IdentitySpec]) =
    createProps.getOrElse {
      if (!exists)
        (bucketSpecAtCreate, partitionColsAtCreate, generatedColsAtCreate,
          identityColAtCreate)
      else {
        val e = readEntry(listVersions.head)
        val p = (e.bucketSpec, e.partitionCols, e.generatedCols,
          e.identitySpec)
        createProps = Some(p)
        p
      }
    }

  /** The table's bucket layout: fixed at create time, recovered from
    * the first commit entry on reopen.
    */
  private def bucketSpec: Option[BucketSpec] = resolveCreateProps._1

  /** Value-partition columns. Like the bucket layout, the partition
    * value is DUPLICATED into the directory path under
    * `_p_<col>=<value>` while the real column stays in the leaf files —
    * so every read path (snapshot, CDF, vacuum) keeps working on
    * schema-complete files, and partition pruning is a driver-side
    * file-list filter plus the parquet min/max stats the files already
    * carry.
    *
    * Unlike the bucket spec, the partition spec can EVOLVE
    * ([[evolvePartitioning]] — Iceberg partition-spec evolution):
    * every entry stamps the spec effective AT that commit, so the
    * LATEST entry always carries the current spec — an O(1) driver
    * read (the protocol-stamp pattern), re-checked against the latest
    * version so a reopened or raced instance never writes under a
    * stale layout.
    */
  @volatile private var partColsCache: Option[(Long, Seq[String])] = None
  private def partitionCols: Seq[String] = {
    val latest = latestVersion
    partColsCache match {
      case Some((v, p)) if v == latest => p
      case _ =>
        val p =
          if (latest < 0) partitionColsAtCreate
          else readEntry(latest).partitionCols
        partColsCache = Some((latest, p))
        p
    }
  }

  /** PARTITION SPEC EVOLUTION (Iceberg's signature layout verb,
    * `ALTER TABLE ... ADD PARTITION FIELD`): a METADATA-ONLY commit
    * switches the layout for FUTURE writes — files written before keep
    * their old `_p_` directories untouched (no rewrite of history,
    * the only evolution feasible on a 100 TB table), files written
    * after land under the new spec, and both eras read through one
    * snapshot because the partition value is duplicated (path + leaf
    * column). Pruning contract on a mixed-era table: a `keep` closure
    * must treat a MISSING key as "keep" (`m.get(c).forall(...)`) —
    * an old-era file has no value for a newly added dimension, so it
    * is conservatively scanned and exact filters above the scan keep
    * results exact; pruning is a performance layer, never a
    * correctness gate. [[replacePartitions]] refuses mixed-era live
    * sets (compact first) because its delete scope must be provable
    * from the path alone.
    */
  def evolvePartitioning(cols: Seq[String]): Unit = withCommitPlanning {
    require(exists, s"table $path does not exist")
    require(cols.nonEmpty,
      s"evolvePartitioning on $path requires at least one column " +
        "(evolving to unpartitioned is not supported)")
    val sch = schema
    cols.foreach(c => require(sch.fieldNames.contains(c),
      s"partition column $c is not in the schema of $path"))
    val v = publish(latestVersion)(CommitEntry(_, "partition-evolve",
      System.currentTimeMillis(), sch.json, Seq.empty, Seq.empty,
      hasChanges = false, bucketSpec = bucketSpec, partitionCols = cols))
    partColsCache = Some((v, cols))
  }

  private def bucketExpr(spec: BucketSpec): Column =
    pmod(xxhash64(concat_ws("\u0001",
      spec.pks.map(c => col(c).cast("string")): _*)), lit(spec.numBuckets))

  /** GENERATED ALWAYS AS columns (Delta generated-column semantics),
    * fixed at create time like the bucket/partition layout: ordered
    * (name → SQL expression) pairs. Writers may omit the column (it is
    * computed) or supply it (it is VALIDATED — an implicit CHECK
    * `name <=> expr` folded into the single write-probe pass). The
    * flagship combination is a generated date PARTITION column:
    * callers append raw event batches and driver-side partition
    * pruning on the derived day comes for free — the Delta use case.
    */
  private def generatedCols: Seq[(String, String)] = resolveCreateProps._3

  /** GENERATED ALWAYS AS IDENTITY column (Delta identity semantics),
    * fixed at create time like the other create props. */
  private def identitySpec: Option[IdentitySpec] = resolveCreateProps._4

  /** Compute any ABSENT generated columns on an incoming batch (the
    * write-side half of the contract; supplied values are validated
    * in [[requireCheckConstraints]]'s probe instead).
    */
  private def withGenerated(df: DataFrame): DataFrame =
    generatedCols.foldLeft(df) { case (d, (name, sql)) =>
      if (d.columns.contains(name)) d else d.withColumn(name, expr(sql))
    }

  /** The table's identity high-water mark: the largest identity value
    * any commit has ever assigned (never reused, even after DELETE —
    * the Delta `delta.identity.highWaterMark` contract). Recovered on
    * cold open by a driver-side backward walk of the log that stops
    * at the FIRST id-stamping entry — on an append-driven table that
    * is the latest or second-latest commit, so the walk is O(1) in
    * practice and bounded by the log tail, never the data. Memoized;
    * assigning writers advance it in-process.
    */
  /** The table's effective reader protocol: every entry is stamped
    * with the running max of the features used so far (the Delta
    * protocol action persists in the log and every checkpoint), so
    * the LATEST entry always carries the effective requirement —
    * an O(1) driver read, never a log walk.
    */
  @volatile private var protoCache: Option[Int] = None
  def protocolVersion: Long = currentMinReader.toLong
  private def currentMinReader: Int = protoCache.getOrElse {
    val p =
      if (!exists) 1
      else readEntry(listVersions.max).minReader
    protoCache = Some(p)
    p
  }

  /** Refuse reads (and therefore writes — a writer that cannot read
    * the log cannot safely commit against it) when the table's
    * protocol exceeds this build's [[MiniLake.SupportedReaderVersion]]
    * (or the test-override conf) — the Delta upgrade contract.
    */
  private def requireReadable(): Unit = {
    val supported = spark.conf
      .getOption("graft.lake.maxSupportedReader").map(_.toInt)
      .getOrElse(SupportedReaderVersion)
    val needed = currentMinReader
    if (needed > supported)
      throw new IllegalStateException(
        s"table $path requires reader protocol version $needed " +
          s"(this reader supports $supported): upgrade the reader — " +
          "refusing is the only safe answer (ignoring newer features " +
          "like deletion vectors or column mapping would read wrong " +
          "data)")
  }

  /** WRITER protocol (the minWriter half of the Delta contract; the
    * reader half is [[currentMinReader]]): the running max of the
    * WRITE-affecting features the table uses — recovered O(1) from
    * the latest entry's stamp like the reader level.
    */
  @volatile private var writerProtoCache: Option[Int] = None
  def writerProtocolVersion: Long = currentMinWriter.toLong
  private def currentMinWriter: Int = writerProtoCache.getOrElse {
    val p =
      if (!exists) 1
      else readEntry(listVersions.max).minWriter
    writerProtoCache = Some(p)
    p
  }

  /** Refuse COMMITS (reads stay legal — that is the whole point of a
    * separate writer level) when the table's writer protocol exceeds
    * this build's [[MiniLake.SupportedWriterVersion]] (or the
    * test-override conf). A writer that ignored a newer write-side
    * feature would corrupt the table in ways readers cannot detect:
    * unaware of CHECK constraints it appends violating rows, unaware
    * of identity it appends rows with no ids, unaware of append-only
    * it deletes from an audit log. Enforced at [[writeEntry]], the
    * single funnel every commit passes through.
    */
  private def requireWritable(): Unit = {
    val supported = spark.conf
      .getOption("graft.lake.maxSupportedWriter").map(_.toInt)
      .getOrElse(SupportedWriterVersion)
    val needed = currentMinWriter
    if (needed > supported)
      throw new IllegalStateException(
        s"table $path requires writer protocol version $needed " +
          s"(this writer supports $supported): upgrade the writer or " +
          "treat the table as read-only — a writer ignoring newer " +
          "write-side features (constraints, identity, append-only) " +
          "would corrupt data readers cannot detect")
  }

  /** (as-of version, high water). The cache is validated against the
    * CURRENT latest version on every read: an instance whose table
    * advanced underneath it (another instance's appendConcurrent
    * reservation, another process's append) must re-read the winner's
    * mark — a forever-cache here would silently re-assign the other
    * writer's id range. Self-healing under races: a stale pair simply
    * misses and rescans.
    */
  @volatile private var idHwCache: Option[(Long, Long)] = None
  private def identityHighWater: Option[Long] = {
    val latest = latestVersion
    idHwCache match {
      case Some((v, hw)) if v == latest => Some(hw)
      case _ =>
        val found = listVersions.sorted(Ordering[Long].reverse).iterator
          .map(readEntry).flatMap(_.identityHighWater).nextOption()
        found.foreach(h => idHwCache = Some((latest, h)))
        found
    }
  }

  /** High water derived ONLY from entries at or below `asOf` — the
    * race-free variant for writers whose mark must match the version
    * they publish at: [[publish]] hands the entry builder its claimed
    * version `v`, so a mark computed from versions ≤ v-1 is paired
    * with a version-v hard link, and any interleaved commit forces a
    * collision and a rebuild with a fresh base — no writer can ever
    * publish a stale (overlapping or regressing) mark. Same bounded
    * backward walk as [[identityHighWater]].
    */
  private def identityHighWaterAt(asOf: Long): Option[Long] =
    listVersions.filter(_ <= asOf).sorted(Ordering[Long].reverse).iterator
      .map(readEntry).flatMap(_.identityHighWater).nextOption()

  /** Identity assignment is sequenced through the single-shot verbs
    * (create/append/overwrite/merge/mergeUpdate/replacePartitions),
    * which admit no concurrent winner, so their committed high water
    * is unambiguous; through [[appendConcurrent]] and
    * [[mergeConcurrent]] via Delta-style id-range RESERVATION (a
    * metadata-only commit claims the range before the data write —
    * see [[reserveIdentityRange]]); and through [[appendIfAbsent]] by
    * riding the SAME atomic entry as the (appId, txnVersion) marker,
    * so a replayed sink skips the data and the ids together.
    */

  /** Stamp `df` with identity values `base+step, base+2·step, …` — the
    * two-phase per-partition-counts → offsets shape (`zipWithIndex`):
    * no unpartitioned window, no driver materialization — one extra
    * pass over the BATCH (not the table). Values are deterministic
    * given the batch's partitioning and row order (callers wanting
    * reproducible ids sort the batch first); `expectN` guards a
    * reservation-backed caller against a non-deterministic batch
    * re-evaluating to a different count and overrunning its range.
    * Returns the stamped frame and the new high water.
    */
  private def assignIdentityFrom(df: DataFrame, spec: MiniLake.IdentitySpec,
      base: Long, expectN: Option[Long] = None): (DataFrame, Long) = {
    require(!df.columns.contains(spec.name),
      s"GENERATED${if (spec.always) " ALWAYS" else ""} AS IDENTITY " +
        s"column '${spec.name}' cannot be user-supplied" +
        (if (spec.always) ""
         else " through this verb (BY DEFAULT accepts explicit values " +
           "via create/append/overwrite/appendConcurrent/appendIfAbsent/" +
           "replacePartitions; merge verbs always generate)"))
    // per-partition counts (one small job), then the contiguous index
    // is `offset(partition) + index-within-partition` evaluated as a
    // codegen expression — identical values to the zipWithIndex layout
    // (partition order, iteration order within) with no RDD pass and
    // no Row boxing; the low 33 bits of monotonically_increasing_id
    // ARE the within-partition index by its contract. The counts job
    // and the stamping consumption MUST see the same partitioning, and
    // two independent executions of an arbitrary plan do not guarantee
    // that (sampled range exchanges, AQE coalescing) — localCheckpoint
    // pins ONE physical evaluation's blocks for both. Batch-sized
    // (never table-sized) frames; MEMORY_AND_DISK semantics.
    val pinned = df.localCheckpoint()
    val counts = pinned.groupBy(spark_partition_id().as("p")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    expectN.foreach(e => require(n == e,
      s"identity batch re-evaluated to a different row count ($e -> " +
        s"$n) for $path; persist a deterministic batch"))
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (p, c) =>
      // the within-partition index is the low 33 bits of
      // monotonically_increasing_id — its contract caps a partition
      // at 2³³ rows, far above any batch partition here, but cheap
      // to refuse loudly rather than wrap silently (ADVICE r13)
      require(c < (1L << 33),
        s"identity batch partition $p holds $c rows — beyond the " +
          s"2^33 within-partition index space for $path; repartition " +
          "the batch")
      val o = (p, acc); acc += c; o
    }.toMap
    val within =
      monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    val offset =
      if (offsets.isEmpty) lit(0L)
      else {
        // a partition id absent from the counts map means the counts
        // job and this consumption saw DIFFERENT partitionings — the
        // invariant localCheckpoint pins. Raise rather than stamp
        // silent nulls (the column is nullable and requireSchemaMatch
        // compares only name/type, so nothing downstream would catch
        // it — ADVICE r13).
        val e = element_at(typedLit(offsets), spark_partition_id())
        when(e.isNotNull, e).otherwise(raise_error(concat(
          lit(s"identity stamping: partition id missing from the " +
            s"counts map for $path: "),
          spark_partition_id().cast("string"))).cast("long"))
      }
    val stamped = pinned.withColumn(spec.name,
      lit(base) + lit(spec.step) * (offset + within + lit(1L)))
    (stamped, base + spec.step * n)
  }

  /** Assign GENERATED AS IDENTITY values continuing from the table's
    * high-water mark (single-writer verbs; `pinnedAsOf` lets a
    * version-pinning caller derive the base race-free from entries
    * ≤ that version — see [[identityHighWaterAt]]). A BY DEFAULT
    * batch CARRYING the column keeps its explicit values (nulls
    * refused) and the commit advances the high water PAST the
    * largest supplied value, aligned to the declared sequence grid,
    * so later generated ids can never collide with a backfill —
    * the Delta GENERATED BY DEFAULT contract. ALWAYS keeps rejecting
    * caller-supplied values unchanged.
    */
  private def withIdentityAssigned(df: DataFrame,
      pinnedAsOf: Option[Long] = None): (DataFrame, Option[Long]) = {
    def curHw(spec: MiniLake.IdentitySpec): Long =
      pinnedAsOf.fold(identityHighWater)(identityHighWaterAt)
        .getOrElse(spec.start - spec.step)
    identitySpec match {
      case None => (df, None)
      case Some(spec) if df.columns.contains(spec.name) =>
        require(!spec.always,
          s"GENERATED ALWAYS AS IDENTITY column '${spec.name}' cannot " +
            "be user-supplied")
        val row = df.agg(
          count(when(col(spec.name).isNull, 1)).as("nulls"),
          max(col(spec.name).cast("long")).as("mx"),
          min(col(spec.name).cast("long")).as("mn")).head
        require(row.getLong(0) == 0L,
          s"identity column '${spec.name}' of $path cannot be NULL " +
            "(omit the column to generate values)")
        if (row.isNullAt(1)) (df, None) // empty batch: nothing advances
        else {
          val supplied =
            if (spec.step > 0) row.getLong(1) else row.getLong(2)
          (df, Some(MiniLake.advancePast(spec, curHw(spec), supplied)))
        }
      case Some(spec) =>
        val (stamped, hw) = assignIdentityFrom(df, spec, curHw(spec))
        (stamped, Some(hw))
    }
  }

  /** Durably claim an id range of `n` steps for a concurrent writer —
    * the Delta identity reservation: a METADATA-ONLY commit whose
    * entry advances the high-water mark by `n·step` before any data
    * is written. The version hard-link is the arbitration — two
    * racing reservations collide on the version number and the loser
    * re-reads the winner's advanced mark, so no two writers can ever
    * hold overlapping ranges. A writer that dies after reserving
    * burns its range (ids are never reused — the same contract DELETE
    * already has). Returns the claimed base (exclusive).
    */
  private def reserveIdentityRange(spec: MiniLake.IdentitySpec,
      n: Long): Long = {
    // the base derives ONLY from entries ≤ v-1 of the claimed version
    // v: a reservation landing in between takes v itself, the hard
    // link collides, and the next attempt re-derives the base fresh
    def baseAt(v: Long): Long =
      identityHighWaterAt(v - 1).getOrElse(spec.start - spec.step)
    val v = publish(latestVersion, AnyWinner)(v =>
      CommitEntry(v, "id-reserve", System.currentTimeMillis(),
        schema.json, Seq.empty, Seq.empty, hasChanges = false,
        bucketSpec = bucketSpec,
        identityHighWater = Some(baseAt(v) + spec.step * n)))
    baseAt(v)
  }

  /** SYNC IDENTITY (Delta's `ALTER TABLE ... SYNC IDENTITY`): re-seat
    * the high-water mark from the DATA — one aggregate over the
    * current snapshot, then a metadata-only commit. Monotone UP only:
    * a deleted max row does NOT lower the mark (ids are never reused —
    * the same contract DELETE already has), the safe half of Delta's
    * semantics. The verb exists for values that arrived outside this
    * writer's own bookkeeping — a restore across a BY DEFAULT
    * backfill, a clone lineage whose source re-seated, an external
    * tool appending files. Returns the (possibly unchanged) mark.
    */
  def syncIdentity(): Long = withCommitPlanning {
    val spec = identitySpec.getOrElse(throw new IllegalArgumentException(
      s"$path has no identity column to sync"))
    val row = snapshot().agg(
      max(col(spec.name).cast("long")).as("mx"),
      min(col(spec.name).cast("long")).as("mn")).head
    // same discipline as reserveIdentityRange: the mark folds forward
    // from entries ≤ v-1 of the claimed version
    def hwAt(v: Long): Long = {
      val cur = identityHighWaterAt(v - 1).getOrElse(spec.start - spec.step)
      if (row.isNullAt(0)) cur
      else MiniLake.advancePast(spec, cur,
        if (spec.step > 0) row.getLong(0) else row.getLong(1))
    }
    val v = publish(latestVersion, AnyWinner)(v =>
      CommitEntry(v, "id-sync", System.currentTimeMillis(),
        schema.json, Seq.empty, Seq.empty, hasChanges = false,
        bucketSpec = bucketSpec, identityHighWater = Some(hwAt(v))))
    hwAt(v)
  }

  // ---- log ----------------------------------------------------------

  def exists: Boolean = knownVersions.isDefined ||
    MiniLake.sharedLatestGet(canonPath).isDefined || MiniLake.exists(path)

  private val ckptDir = logDir.resolve("_checkpoints")
  private val lastCkptFile = logDir.resolve("_last_checkpoint")

  /** Memoized folded states, keyed by as-of version. A state at a
    * fixed version is immutable once that version is committed (log
    * entries are write-once via the hard-link publish), so caching is
    * always sound; later commits simply appear as new keys. Repeated
    * opens inside one job (the CDC loop pattern) fold only the delta
    * since the last cached state.
    */
  private val stateCache =
    scala.collection.concurrent.TrieMap.empty[Long, FoldState]

  /** Fold one commit entry into the running state — the single
    * definition of what every log-derived accessor means. Mirrors the
    * per-accessor folds exactly: liveFiles keeps insertion order
    * (removes filter, adds append), constraints/renames/txn/stats
    * accumulate by mode.
    */
  private def foldEntryInto(s: FoldState, e: CommitEntry): FoldState = {
    val removed = e.removes.toSet
    val dvRemoved = e.dvRemoves.toSet
    val droppedNow: Set[String] =
      if (e.mode != "drop") Set.empty
      else {
        val prior = DataType.fromJson(s.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSet
        val now = DataType.fromJson(e.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSet
        prior -- now
      }
    // a tombstoned name re-introduced by a widening commit is REBORN:
    // it gets a fresh identity as of this version (Delta column
    // mapping's fresh physical id), so per-era reads null it for
    // files older than the rebirth — the old incarnation's bytes can
    // never resurface. Schema parse gated on live tombstones: with
    // none, nothing can be reborn.
    val rebornNow: Map[String, Long] =
      if (s.dropped.isEmpty || e.mode == "drop" || s.version < 0)
        Map.empty
      else {
        val prior = DataType.fromJson(s.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSet
        val now = DataType.fromJson(e.schemaJson)
          .asInstanceOf[StructType].fieldNames
        now.iterator.filterNot(prior)
          .filter(s.dropped).map(_ -> e.version).toMap
      }
    // renames carry a reborn column's identity to its new name
    val rebornRenamed = e.renames.foldLeft(s.reborn) {
      case (m, (f, t)) => m.get(f).map(rv => m - f + (t -> rv)).getOrElse(m)
    }
    FoldState(
      version = e.version,
      schemaJson = e.schemaJson,
      // append-only commits (the 1,000-commit ingest shape) skip the
      // O(liveFiles) filter pass; liveFiles is Vector-backed at both
      // construction sites so the append itself is O(adds)
      liveFiles = (if (removed.isEmpty) s.liveFiles
        else s.liveFiles.filterNot(removed)) ++ e.adds,
      liveDvFiles = (if (dvRemoved.isEmpty) s.liveDvFiles
        else s.liveDvFiles.filterNot(dvRemoved)) ++ e.dvAdds,
      constraints = e.mode match {
        case "addConstraint" | "setProperty" | "clone" =>
          // clone entries seed the source's full constraint/property map
          // (Delta clone preserves table metadata)
          s.constraints ++ e.constraints
        case "dropConstraint" | "unsetProperty" =>
          s.constraints -- e.constraints.keySet
        case _                => s.constraints
      },
      renames = s.renames ++ e.cloneRenames ++
        e.renames.toSeq.map { case (f, t) => (e.version, f, t) },
      dropped =
        (s.dropped ++ e.cloneDropped ++ droppedNow) -- rebornNow.keySet,
      txnMax = e.txn.fold(s.txnMax) { case (app, tv) =>
        s.txnMax + (app -> math.max(tv, s.txnMax.getOrElse(app, -1L)))
      },
      stats = s.stats ++ e.stats,
      statsStr = s.statsStr ++ e.statsStr,
      statsDbl = s.statsDbl ++ e.statsDbl,
      changeBacked =
        if (e.changesMode == "insertsFromData")
          s.changeBacked ++
            e.adds.map(f => ChangeRef(e.version, e.timestampMs, f))
        else s.changeBacked,
      listedChanges = s.listedChanges ++
        e.changeFiles.map(f => ChangeRef(e.version, e.timestampMs, f)),
      legacyVersions =
        // only CHANGE-BEARING commits without a file list are legacy
        // (pre-changeFiles layout owning a whole changes/v=N dir);
        // metadata-only commits (optimize/rename/constraint/no-match
        // delete) have no change dir and must not grow this list
        if (e.hasChanges && e.changesMode == "files" &&
            e.changeFiles.isEmpty)
          s.legacyVersions :+ e.version
        else s.legacyVersions,
      changeFloor = s.changeFloor,
      reborn = rebornRenamed ++ rebornNow ++ e.cloneReborn,
      eraSchemas = s.eraSchemas ++ e.cloneEraSchemas)
  }

  /** The folded log state as of `asOf`: basis = the largest already-
    * cached state ≤ asOf, else the best on-disk checkpoint ≤ asOf,
    * else empty; then fold only the tail entries. This is what makes
    * opening a long-lived table O(tail since last checkpoint) instead
    * of O(all versions) — the Delta `_last_checkpoint` contract. Full
    * folds remain only for time travel older than every checkpoint.
    */
  private[lake] def state(asOf: Long): FoldState = {
    if (asOf < 0) return FoldState.empty
    requireReadable()
    stateCache.getOrElse(asOf, {
      val cachedBase = stateCache.keys.filter(_ < asOf)
        .maxOption.map(stateCache(_))
      val base = cachedBase
        .orElse(readBestCheckpoint(asOf))
        .getOrElse(FoldState.empty)
      val s = listVersions.filter(v => v > base.version && v <= asOf)
        .foldLeft(base)((acc, v) => foldEntryInto(acc, readEntry(v)))
      stateCache.put(asOf, s)
      s
    })
  }

  /** Full from-scratch fold, checkpoint- and cache-free — the
    * equivalence oracle MiniLakeSpec checks `state` against.
    */
  private[lake] def foldStateScratch(asOf: Long): FoldState =
    listVersions.filter(_ <= asOf)
      .foldLeft(FoldState.empty)((acc, v) => foldEntryInto(acc, readEntry(v)))

  private def checkpointVersions: Seq[Long] =
    if (!Files.isDirectory(ckptDir)) Seq.empty
    else usingStream(Files.list(ckptDir))(_
      .map(_.getFileName.toString)
      .filter(_.endsWith(".manifest.json"))
      .map(_.stripSuffix(".manifest.json").toLong)
      .toSeq.sorted)

  /** Change-metadata retention horizon: checkpoint writes prune
    * listedChanges/changeBacked refs whose commit is older than this,
    * advancing the change floor (default = the 7-day vacuum window;
    * `graft.lake.changeRetentionMillis` overrides — tests set it to 0
    * to force pruning).
    */
  private def changeRetentionMillis: Long =
    spark.conf.getOption("graft.lake.changeRetentionMillis")
      .map(_.toLong).getOrElse(DefaultVacuumRetainMillis)

  /** Per-part entry cap for multi-part checkpoints (file-list entries
    * per part file). `graft.lake.checkpointPartEntries` overrides —
    * tests set it low to force multi-part layouts at toy scale.
    */
  private def checkpointPartEntries: Int =
    spark.conf.getOption("graft.lake.checkpointPartEntries")
      .map(_.toInt).getOrElse(MiniLake.DefaultCheckpointPartEntries)

  /** Best-effort checkpoint lookup: the `_last_checkpoint` pointer
    * first (one read), the checkpoint directory listing as fallback.
    * Any unreadable/corrupt checkpoint is simply skipped — the full
    * fold is always available, so checkpoints can never lose data,
    * only speed.
    */
  private def readBestCheckpoint(asOf: Long): Option[FoldState] = {
    val fromPointer =
      try {
        if (!Files.exists(lastCkptFile)) None
        else {
          val m = mapper.readValue(Files.readAllBytes(lastCkptFile),
            classOf[java.util.Map[String, Object]])
          val v = m.get("version").asInstanceOf[Number].longValue()
          if (v <= asOf) readCheckpoint(v) else None
        }
      } catch { case _: Exception => None }
    fromPointer.orElse(
      checkpointVersions.filter(_ <= asOf).reverseIterator
        .map(readCheckpoint)
        .collectFirst { case Some(s) => s })
  }

  /** Read the multi-part checkpoint for `v`: the manifest names its
    * exact part files (writer-unique names — the manifest link is the
    * atomic commit point, so a mixed set of two racing writers' parts
    * can never be assembled), parts concatenate in manifest order.
    * Any missing/corrupt piece returns None — the caller falls back
    * to an older checkpoint or the full fold, so a bad checkpoint
    * only ever costs speed. Each part is an independently parseable
    * JSON document of bounded size (the Delta multi-part-checkpoint
    * property that lets a cluster-side reader fan the parts out
    * instead of streaming one giant blob through the driver).
    */
  private def readCheckpoint(v: Long): Option[FoldState] = {
    val manifest = ckptDir.resolve(s"$v.manifest.json")
    MiniLake.sharedCkptGet(canonPath, v, manifest).orElse {
      val r = readCheckpointUncached(v)
      r.foreach(MiniLake.sharedCkptPut(canonPath, v, manifest, _))
      r
    }
  }

  private def readCheckpointUncached(v: Long): Option[FoldState] =
    try {
      val m = mapper.readValue(
        Files.readAllBytes(ckptDir.resolve(s"$v.manifest.json")),
        classOf[java.util.Map[String, Object]])
      def strs(mm: java.util.Map[String, Object], key: String): Seq[String] =
        Option(mm.get(key))
          .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
          .getOrElse(Seq.empty)
      val partNames = strs(m, "partFiles")
      val parts = partNames.map { p =>
        mapper.readValue(Files.readAllBytes(ckptDir.resolve(p)),
          classOf[java.util.Map[String, Object]])
      }
      def refs(mm: java.util.Map[String, Object],
          key: String): Seq[ChangeRef] =
        Option(mm.get(key))
          .map(_.asInstanceOf[java.util.List[java.util.List[Object]]]
            .asScala.toSeq.map { r =>
              ChangeRef(r.get(0).asInstanceOf[Number].longValue(),
                r.get(1).asInstanceOf[Number].longValue(),
                r.get(2).toString)
            })
          .getOrElse(Seq.empty)
      def statsL(mm: java.util.Map[String, Object])
          : Map[String, Map[String, (Long, Long)]] =
        Option(mm.get("stats"))
          .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
            java.util.List[Number]]]].asScala.map { case (f, cols) =>
            f -> cols.asScala.map { case (c, b) =>
              c -> (b.get(0).longValue(), b.get(1).longValue())
            }.toMap
          }.toMap)
          .getOrElse(Map.empty)
      def statsS(mm: java.util.Map[String, Object])
          : Map[String, Map[String, (String, String)]] =
        Option(mm.get("statsStr"))
          .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
            java.util.List[String]]]].asScala.map { case (f, cols) =>
            f -> cols.asScala.map { case (c, b) =>
              c -> (b.get(0), b.get(1))
            }.toMap
          }.toMap)
          .getOrElse(Map.empty)
      def statsD(mm: java.util.Map[String, Object])
          : Map[String, Map[String, (Double, Double)]] =
        Option(mm.get("statsDbl"))
          .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
            java.util.List[Number]]]].asScala.map { case (f, cols) =>
            f -> cols.asScala.map { case (c, b) =>
              c -> (b.get(0).doubleValue(), b.get(1).doubleValue())
            }.toMap
          }.toMap)
          .getOrElse(Map.empty)
      Some(FoldState(
        version = m.get("version").asInstanceOf[Number].longValue(),
        schemaJson = m.get("schemaJson").toString,
        liveFiles = parts.flatMap(strs(_, "liveFiles")).toVector,
        liveDvFiles = parts.flatMap(strs(_, "liveDvFiles")).toVector,
        constraints = Option(m.get("constraints"))
          .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
          .getOrElse(Map.empty),
        renames = Option(m.get("renames"))
          .map(_.asInstanceOf[java.util.List[java.util.List[Object]]]
            .asScala.toSeq.map { r =>
              (r.get(0).asInstanceOf[Number].longValue(),
                r.get(1).toString, r.get(2).toString)
            })
          .getOrElse(Seq.empty),
        dropped = strs(m, "dropped").toSet,
        txnMax = Option(m.get("txnMax"))
          .map(_.asInstanceOf[java.util.Map[String, Number]].asScala
            .map { case (k, tv) => k -> tv.longValue() }.toMap)
          .getOrElse(Map.empty),
        stats = parts.map(statsL).fold(Map.empty)(_ ++ _),
        statsStr = parts.map(statsS).fold(Map.empty)(_ ++ _),
        statsDbl = parts.map(statsD).fold(Map.empty)(_ ++ _),
        changeBacked = parts.flatMap(refs(_, "changeBacked")).toVector,
        listedChanges = parts.flatMap(refs(_, "listedChanges")).toVector,
        legacyVersions = Option(m.get("legacyVersions"))
          .map(_.asInstanceOf[java.util.List[Number]].asScala.toSeq
            .map(_.longValue()))
          .getOrElse(Seq.empty),
        changeFloor = Option(m.get("changeFloor"))
          .map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
        reborn = Option(m.get("reborn"))
          .map(_.asInstanceOf[java.util.Map[String, Number]].asScala
            .map { case (k, rv) => k -> rv.longValue() }.toMap)
          .getOrElse(Map.empty),
        eraSchemas = Option(m.get("eraSchemas"))
          .map(_.asInstanceOf[java.util.Map[String, String]].asScala
            .map { case (w, j) => w.toLong -> j }.toMap)
          .getOrElse(Map.empty)))
    } catch { case _: Exception => None }

  /** Write the folded-state checkpoint for `v` (every
    * [[MiniLake.CheckpointInterval]] commits) plus the
    * `_last_checkpoint` pointer. Strictly best-effort: a checkpoint
    * failure must never fail the commit that triggered it, and a
    * racing writer's duplicate checkpoint loses the manifest link and
    * is ignored. Two bounds keep checkpoints sized by LIVE state, not
    * table history:
    *
    *  - stats are pruned to live data/DV files (dead files' stats
    *    serve no read);
    *  - change-feed metadata older than [[changeRetentionMillis]] is
    *    pruned and the change floor advances — without this,
    *    listedChanges grows monotonically with every CDF commit
    *    forever, and a streaming-ingest table at ~500k commits/year
    *    would make every checkpoint a multi-GB driver JSON pass.
    *
    * The layout is multi-part (Delta's multi-part checkpoint shape):
    * `<v>.part-<i>.<nonce>.json` files of at most
    * [[checkpointPartEntries]] file entries each, plus a
    * `<v>.manifest.json` naming its exact parts. Parts are written
    * first under writer-unique names; the manifest hard-link is the
    * atomic commit point, so readers can never assemble a mix of two
    * racing writers' parts, and a writer that died mid-checkpoint
    * leaves only invisible orphans.
    */
  private def maybeCheckpoint(v: Long): Unit =
    if (v > 0 && v % CheckpointInterval == 0) {
      try {
        val s0 = state(v)
        val live = s0.liveFiles.toSet ++ s0.liveDvFiles
        // retention-prune change metadata: refs older than the horizon
        // stop being vacuum-protected and the floor advances so CDF
        // reads below it refuse explicitly instead of going missing
        val cutoff = System.currentTimeMillis() - changeRetentionMillis
        def kept(r: ChangeRef): Boolean = r.ts > cutoff
        val prunedV = (s0.changeBacked.iterator ++ s0.listedChanges.iterator)
          .filterNot(kept).map(_.version + 1)
        val floor = (prunedV ++ Iterator.single(s0.changeFloor)).max
        val s = s0.copy(
          stats = s0.stats.filter { case (f, _) => live(f) },
          statsStr = s0.statsStr.filter { case (f, _) => live(f) },
          statsDbl = s0.statsDbl.filter { case (f, _) => live(f) },
          changeBacked = s0.changeBacked.filter(kept),
          listedChanges = s0.listedChanges.filter(kept),
          legacyVersions = s0.legacyVersions.filter(_ >= floor),
          changeFloor = floor)
        Files.createDirectories(ckptDir)
        val nonce = java.util.UUID.randomUUID.toString.take(8)
        def refJson(r: ChangeRef): Object =
          java.util.List.of[Object](Long.box(r.version), Long.box(r.ts),
            r.file)
        // one conceptual entry stream — live files, DV files, change
        // refs — sliced into parts of at most checkpointPartEntries
        sealed trait Unit0
        final case class LF(f: String) extends Unit0
        final case class DV(f: String) extends Unit0
        final case class CB(r: ChangeRef) extends Unit0
        final case class LC(r: ChangeRef) extends Unit0
        val units: Seq[Unit0] =
          s.liveFiles.map(LF) ++ s.liveDvFiles.map(DV) ++
            s.changeBacked.map(CB) ++ s.listedChanges.map(LC)
        val cap = math.max(1, checkpointPartEntries)
        val slices =
          if (units.isEmpty) Seq(Seq.empty[Unit0])
          else units.grouped(cap).toSeq
        val partNames = slices.zipWithIndex.map { case (slice, i) =>
          val lf = slice.collect { case LF(f) => f }
          val dv = slice.collect { case DV(f) => f }
          val cb = slice.collect { case CB(r) => r }
          val lc = slice.collect { case LC(r) => r }
          val inPart = (lf ++ dv).toSet
          val part = Map[String, Object](
            "liveFiles" -> lf.asJava,
            "liveDvFiles" -> dv.asJava,
            "changeBacked" -> cb.map(refJson).asJava,
            "listedChanges" -> lc.map(refJson).asJava,
            "stats" -> s.stats.collect { case (f, cols) if inPart(f) =>
              f -> cols.map { case (c, (lo, hi)) =>
                c -> java.util.List.of[Object](Long.box(lo), Long.box(hi))
              }.asJava
            }.asJava,
            "statsStr" -> s.statsStr.collect { case (f, cols) if inPart(f) =>
              f -> cols.map { case (c, (lo, hi)) =>
                c -> java.util.List.of[Object](lo, hi)
              }.asJava
            }.asJava,
            "statsDbl" -> s.statsDbl.collect { case (f, cols) if inPart(f) =>
              f -> cols.map { case (c, (lo, hi)) =>
                c -> java.util.List.of[Object](Double.box(lo),
                  Double.box(hi))
              }.asJava
            }.asJava)
          val name = s"$v.part-$i.$nonce.json"
          val tmp = ckptDir.resolve(s".$name.tmp")
          Files.write(tmp, mapper.writeValueAsBytes(part.asJava))
          try Files.createLink(ckptDir.resolve(name), tmp)
          finally Files.deleteIfExists(tmp)
          name
        }
        val manifest = Map[String, Object](
          "version" -> Long.box(s.version),
          "schemaJson" -> s.schemaJson,
          "constraints" -> s.constraints.asJava,
          "renames" -> s.renames.map { case (rv, f, t) =>
            java.util.List.of[Object](Long.box(rv), f, t)
          }.asJava,
          "dropped" -> s.dropped.toSeq.sorted.asJava,
          "txnMax" -> s.txnMax.map { case (k, tv) =>
            k -> Long.box(tv)
          }.asJava,
          "legacyVersions" -> s.legacyVersions.map(Long.box).asJava,
          "changeFloor" -> Long.box(s.changeFloor),
          "reborn" -> s.reborn.map { case (k, rv) =>
            k -> Long.box(rv)
          }.asJava,
          "eraSchemas" -> s.eraSchemas.map { case (w, j) =>
            w.toString -> j
          }.asJava,
          "partFiles" -> partNames.asJava)
        val mtmp = ckptDir.resolve(s".$v.manifest.$nonce.json.tmp")
        Files.write(mtmp, mapper.writeValueAsBytes(manifest.asJava))
        try {
          Files.createLink(ckptDir.resolve(s"$v.manifest.json"), mtmp)
          // seed the shared checkpoint cache with the state just
          // serialized — it is exactly what a parse of these files
          // yields, so cold-opening instances skip the multi-part
          // read+parse entirely (the q232 r14 profiler's top Jackson
          // frame once entry sharing landed)
          MiniLake.sharedCkptPut(canonPath, v,
            ckptDir.resolve(s"$v.manifest.json"), s)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // lost the manifest race: this writer's parts are orphans —
            // reclaim them best-effort (they are invisible to readers)
            partNames.foreach(p =>
              Files.deleteIfExists(ckptDir.resolve(p)))
        }
        finally Files.deleteIfExists(mtmp)
        // advance the pointer only forward — a racing writer's higher
        // pointer must not regress (regression would only cost speed,
        // but forward-only is free to maintain)
        val current =
          try {
            if (!Files.exists(lastCkptFile)) -1L
            else mapper.readValue(Files.readAllBytes(lastCkptFile),
              classOf[java.util.Map[String, Object]])
              .get("version").asInstanceOf[Number].longValue()
          } catch { case _: Exception => -1L }
        if (v > current) {
          val ptmp = logDir.resolve(s"._last_checkpoint.$nonce.tmp")
          Files.write(ptmp, mapper.writeValueAsBytes(
            Map[String, Object]("version" -> Long.box(v)).asJava))
          Files.move(ptmp, lastCkptFile,
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        }
      } catch { case _: Exception => () }
    }

  /** Latest committed version, or -1 for a nonexistent table. */
  def latestVersion: Long = listVersions.lastOption.getOrElse(-1L)

  /** Known contiguous version range (first, last), once discovered.
    * Entries are write-once and version numbers are CONTIGUOUS from
    * the first entry (nextVersion = latest + 1; the hard-link publish
    * closes races; clones start contiguously at their clone point), so
    * discovery only ever extends FORWARD: one full directory listing
    * per instance, then one `exists` probe per call — O(new entries),
    * not O(log). A 1,000-commit lifecycle (q232) spent more wall
    * clock re-listing the log directory than writing data: the
    * profiler's top frame, ~O(n²) readdir work across the lifecycle.
    */
  @volatile private var knownVersions: Option[(Long, Long)] = None

  private def listVersions: Seq[Long] = knownVersions match {
    case Some((first, last))
        if !Files.exists(logDir.resolve(s"$last.json")) =>
      // the cached range's newest entry vanished: the table directory
      // was removed/recreated OUT OF BAND (the protocol itself never
      // deletes log entries — ADVICE r13). Drop every cache keyed on
      // the old lineage and rediscover from disk; one O(1) existence
      // probe per call buys immunity to phantom versions.
      knownVersions = None
      entryCache.clear()
      stateCache.clear()
      idHwCache = None
      MiniLake.purgeSharedFor(canonPath)
      listVersions
    case Some((first, last)) =>
      // adopt versions this JVM already published without probing each
      val floor =
        math.max(last, MiniLake.sharedLatestGet(canonPath).getOrElse(last))
      var v = floor + 1
      while (Files.exists(logDir.resolve(s"$v.json"))) v += 1
      if (v - 1 != last) knownVersions = Some((first, v - 1))
      first to (v - 1)
    case None =>
      if (!Files.isDirectory(logDir)) Seq.empty
      else {
        val vs = usingStream(Files.list(logDir))(_
          .map(_.getFileName.toString)
          .filter(_.endsWith(".json"))
          .map(_.stripSuffix(".json").toLong)
          .toSeq.sorted)
        // cache only a verified-contiguous range; a gapped log (never
        // produced by this protocol, but cheap to guard) keeps the
        // full-listing behavior
        if (vs.nonEmpty) {
          // first full listing by this instance: bind the shared
          // immutable-log caches to THIS log's identity — an
          // out-of-band recreate at the same path has a fresh first-
          // entry inode and purges them
          MiniLake.validateLineage(canonPath,
            logDir.resolve(s"${vs.head}.json"))
          if (vs.last - vs.head + 1 == vs.size)
            knownVersions = Some((vs.head, vs.last))
        }
        vs
      }
  }

  /** Log entries are write-once (hard-link publish), so caching parsed
    * entries is always sound — the same immutability argument as
    * [[stateCache]], and the same order of driver memory (the fold
    * already touches every entry once).
    */
  private val entryCache =
    scala.collection.concurrent.TrieMap.empty[Long, CommitEntry]

  private def readEntry(v: Long): CommitEntry =
    entryCache.getOrElseUpdate(v, {
      val file = logDir.resolve(s"$v.json")
      MiniLake.sharedEntryGet(canonPath, v, file).getOrElse {
        val e = readEntryUncached(v)
        MiniLake.sharedEntryPut(canonPath, v, file, e)
        e
      }
    })

  private def readEntryUncached(v: Long): CommitEntry = {
    val entryPath = logDir.resolve(s"$v.json")
    if (!Files.exists(entryPath))
      throw new IllegalArgumentException(
        s"no version $v in the log of $path (versions " +
          s"${listVersions.headOption.getOrElse(-1L)}.." +
          s"${latestVersion} exist; a shallow clone's history begins " +
          "at its source's clone-point version)")
    val m = mapper.readValue(
      Files.readAllBytes(entryPath), classOf[java.util.Map[String, Object]])
    CommitEntry(
      version = m.get("version").asInstanceOf[Number].longValue(),
      mode = m.get("mode").toString,
      timestampMs = m.get("timestampMs").asInstanceOf[Number].longValue(),
      schemaJson = m.get("schemaJson").toString,
      adds = m.get("adds").asInstanceOf[java.util.List[String]].asScala.toSeq,
      removes = m.get("removes").asInstanceOf[java.util.List[String]].asScala.toSeq,
      hasChanges = m.get("hasChanges").asInstanceOf[Boolean],
      bucketSpec = Option(m.get("bucketPks")).map { pks =>
        BucketSpec(pks.asInstanceOf[java.util.List[String]].asScala.toSeq,
          m.get("numBuckets").asInstanceOf[Number].intValue())
      },
      changesMode = Option(m.get("changesMode")).map(_.toString)
        .getOrElse("files"),
      txn = Option(m.get("txnAppId")).map(app =>
        (app.toString, m.get("txnVersion").asInstanceOf[Number].longValue())),
      partitionCols = Option(m.get("partitionCols"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty),
      stats = Option(m.get("stats"))
        .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
          java.util.List[Number]]]].asScala.map { case (f, cols) =>
          f -> cols.asScala.map { case (c, mm) =>
            c -> (mm.get(0).longValue(), mm.get(1).longValue())
          }.toMap
        }.toMap)
        .getOrElse(Map.empty),
      changeFiles = Option(m.get("changeFiles"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty),
      statsStr = Option(m.get("statsStr"))
        .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
          java.util.List[String]]]].asScala.map { case (f, cols) =>
          f -> cols.asScala.map { case (c, mm) =>
            c -> (mm.get(0), mm.get(1))
          }.toMap
        }.toMap)
        .getOrElse(Map.empty),
      statsDbl = Option(m.get("statsDbl"))
        .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String,
          java.util.List[Number]]]].asScala.map { case (f, cols) =>
          f -> cols.asScala.map { case (c, mm) =>
            c -> (mm.get(0).doubleValue(), mm.get(1).doubleValue())
          }.toMap
        }.toMap)
        .getOrElse(Map.empty),
      dvAdds = Option(m.get("dvAdds"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty),
      dvRemoves = Option(m.get("dvRemoves"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty),
      constraints = Option(m.get("constraints"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty),
      renames = Option(m.get("renames"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty),
      generatedCols = Option(m.get("generatedCols"))
        .map(_.asInstanceOf[java.util.List[java.util.List[String]]]
          .asScala.toSeq.map(p => (p.get(0), p.get(1))))
        .getOrElse(Seq.empty),
      identitySpec = Option(m.get("identityCol")).map(n =>
        IdentitySpec(n.toString,
          m.get("identityStart").asInstanceOf[Number].longValue(),
          m.get("identityStep").asInstanceOf[Number].longValue(),
          always = Option(m.get("identityAlways"))
            .forall(_.asInstanceOf[java.lang.Boolean].booleanValue()))),
      identityHighWater = Option(m.get("identityHighWater"))
        .map(_.asInstanceOf[Number].longValue()),
      minReader = Option(m.get("minReader"))
        .map(_.asInstanceOf[Number].intValue()).getOrElse(1),
      minWriter = Option(m.get("minWriter"))
        .map(_.asInstanceOf[Number].intValue()).getOrElse(1),
      addDefaults = Option(m.get("addDefaults"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty),
      cloneRenames = Option(m.get("cloneRenames"))
        .map(_.asInstanceOf[java.util.List[java.util.List[Object]]]
          .asScala.toSeq.map { r =>
            (r.get(0).asInstanceOf[Number].longValue(),
              r.get(1).toString, r.get(2).toString)
          })
        .getOrElse(Seq.empty),
      cloneReborn = Option(m.get("cloneReborn"))
        .map(_.asInstanceOf[java.util.Map[String, Number]].asScala
          .map { case (c, rv) => c -> rv.longValue() }.toMap)
        .getOrElse(Map.empty),
      cloneDropped = Option(m.get("cloneDropped"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Seq.empty),
      cloneEraSchemas = Option(m.get("cloneEraSchemas"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala
          .map { case (w, j) => w.toLong -> j }.toMap)
        .getOrElse(Map.empty))
  }

  /** File-level min/max stats for INT64 and UTF8-string columns, read
    * from the parquet footers the write just produced (driver-side,
    * one footer per file — metadata-sized; the Delta-style
    * data-skipping index). Bucketed tables sort rows by PK inside
    * each file, so these ranges are tight exactly where range reads
    * need them. String stats are kept only when both bounds fit
    * [[MiniLake.MaxStatsStringLen]] — long free-text values would
    * bloat the log, and a truncated upper bound is unsound for
    * pruning unless rounded up, so oversized values simply skip stats
    * (the file is conservatively kept by range reads).
    */
  private def collectFileStats(files: Seq[String]): (
      Map[String, Map[String, (Long, Long)]],
      Map[String, Map[String, (String, String)]],
      Map[String, Map[String, (Double, Double)]]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val longs =
      scala.collection.mutable.Map.empty[String, Map[String, (Long, Long)]]
    val strs =
      scala.collection.mutable.Map.empty[String, Map[String, (String, String)]]
    val dbls =
      scala.collection.mutable.Map.empty[String, Map[String, (Double, Double)]]
    files.foreach { f =>
      try {
        val md = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, new org.apache.hadoop.fs.Path(f),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        val accL = scala.collection.mutable.Map.empty[String, (Long, Long)]
        val accS = scala.collection.mutable.Map.empty[String, (String, String)]
        val accD = scala.collection.mutable.Map.empty[String, (Double, Double)]
        md.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val pt = c.getPrimitiveType
            val st = c.getStatistics
            val name = c.getPath.toDotString
            if (st != null && st.hasNonNullValue) {
              pt.getPrimitiveTypeName match {
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.INT64 =>
                  val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
                  val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
                  accL(name) = accL.get(name) match {
                    case Some((lo, hi)) => (math.min(lo, mn), math.max(hi, mx))
                    case None => (mn, mx)
                  }
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.BINARY
                    if pt.getLogicalTypeAnnotation.isInstanceOf[
                      org.apache.parquet.schema.LogicalTypeAnnotation
                        .StringLogicalTypeAnnotation] =>
                  val mn = st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8
                  val mx = st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8
                  if (mn.length <= MiniLake.MaxStatsStringLen &&
                      mx.length <= MiniLake.MaxStatsStringLen) {
                    accS(name) = accS.get(name) match {
                      case Some((lo, hi)) =>
                        (if (mn < lo) mn else lo, if (mx > hi) mx else hi)
                      case None => (mn, mx)
                    }
                  }
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.DOUBLE =>
                  val mn = st.genericGetMin
                    .asInstanceOf[java.lang.Double].doubleValue
                  val mx = st.genericGetMax
                    .asInstanceOf[java.lang.Double].doubleValue
                  // NaN-poisoned stats are not usable bounds
                  if (!mn.isNaN && !mx.isNaN) {
                    accD(name) = accD.get(name) match {
                      case Some((lo, hi)) =>
                        (math.min(lo, mn), math.max(hi, mx))
                      case None => (mn, mx)
                    }
                  }
                case _ => ()
              }
            }
          }
        }
        if (accL.nonEmpty) longs(f) = accL.toMap
        if (accS.nonEmpty) strs(f) = accS.toMap
        if (accD.nonEmpty) dbls(f) = accD.toMap
      } catch { case _: Exception => () } // stats are best-effort
    }
    (longs.toMap, strs.toMap, dbls.toMap)
  }

  /** Test seam: runs once, at the start of this instance's next
    * [[publish]] — after the verb's data write, before its first
    * attempt: the window a racing winner lands in.
    */
  @volatile private[lake] var beforeNextPublish: Option[() => Unit] = None

  /** The commit protocol — Delta's one rule (Armbrust et al., VLDB
    * 2020): claim the next log version atomically and, on losing,
    * check the winners for a logical conflict. Every commit passes
    * through here; it is the only caller of [[writeEntry]].
    *
    * Each attempt pins `v = nextVersion`, checks every entry in
    * `(readV, v)` — the commits that landed after the verb read the
    * table — against the verb's `rule`, and publishes `entryAt(v)`. A
    * refused winner raises [[java.util.ConcurrentModificationException]]
    * naming it, and the caller re-runs against fresh state. A lost
    * hard-link race backs off and retries, at most [[MaxLostRaces]]
    * times: once the per-commit fixed cost dropped to ~1 ms, a loser's
    * re-prep window matched the winners' commit interval, and without
    * the jitter one of 8 racing writers lost 32 races in a row.
    * Sub-ms to few-ms jitter desynchronizes the herd; winners never
    * wait. Returns the published version.
    */
  private def publish(readV: Long, rule: Rule = NoWinner)(
      entryAt: Long => CommitEntry): Long = {
    beforeNextPublish.foreach { f => beforeNextPublish = None; f() }
    var checked = readV // winners are immutable: each is checked once
    var lost = 0
    while (true) {
      val v = nextVersion
      val e = entryAt(v)
      listVersions.filter(w => w > checked && w < v).foreach { w =>
        val winner = readEntry(w)
        rule(winner).foreach(why =>
          throw new java.util.ConcurrentModificationException(
            s"${e.mode} on $path conflicts with concurrent " +
              s"${winner.mode} at version $w, which invalidated the " +
              s"snapshot it read at version $readV: $why"))
      }
      checked = v - 1
      try { writeEntry(e); return e.version }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          lost += 1
          if (lost == MaxLostRaces)
            throw new java.util.ConcurrentModificationException(
              s"${e.mode} on $path lost $MaxLostRaces commit races, " +
                "giving up")
          java.util.concurrent.locks.LockSupport.parkNanos(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(500_000L * math.min(lost, 8)))
      }
    }
    -1L // unreachable
  }

  /** Publish the commit entry for `v` atomically: write a tmp file, then
    * hard-link it into place — link creation fails if `v` was already
    * committed, so two racing writers can't both win. Called only by
    * [[publish]], which owns the race.
    */
  private def writeEntry(e1: CommitEntry): Unit = {
    // the single funnel every commit passes through — the writer
    // protocol gate lives here so no verb can forget it
    requireWritable()
    // In-commit-timestamp monotonicity (Delta ICT intent, VERDICT r12
    // #9): wall clocks skew between writers, and q295's forward/
    // backward timestamp resolvers assume the recorded sequence is
    // non-decreasing — clamp each entry to predecessor + 1 ms here at
    // the funnel, so order wins over a skewed clock while honest wall
    // time is kept everywhere else. Clones start a fresh log at a
    // non-zero version with no predecessor entry — they keep their
    // own stamp.
    val e0 = {
      val stamped = MiniLake.clockForTests.fold(e1)(c =>
        e1.copy(timestampMs = c()))
      if (stamped.version > 0 &&
          Files.exists(logDir.resolve(s"${stamped.version - 1}.json"))) {
        val prev = readEntry(stamped.version - 1).timestampMs
        if (stamped.timestampMs <= prev) stamped.copy(timestampMs = prev + 1)
        else stamped
      } else stamped
    }
    val e =
      if (e0.adds.nonEmpty && e0.stats.isEmpty && e0.statsStr.isEmpty) {
        // files written by the driver-side fast path computed their
        // stats inline — use them instead of re-opening footers (one
        // footer read per tiny commit IS measurable at 1,000-commit
        // lifecycles). Read, don't remove: a lost commit race replays
        // writeEntry for the SAME files, and an eagerly-consumed entry
        // would force the retry onto the footer path. Removal happens
        // after the link succeeds.
        val inline = e0.adds.map(f => f -> pendingStats.get(f))
        if (inline.nonEmpty && inline.forall(_._2.isDefined)) {
          val byFile = inline.collect { case (f, Some(t)) => f -> t }
          e0.copy(
            stats = byFile.collect {
              case (f, (l, _, _)) if l.nonEmpty => f -> l }.toMap,
            statsStr = byFile.collect {
              case (f, (_, ss, _)) if ss.nonEmpty => f -> ss }.toMap,
            statsDbl = byFile.collect {
              case (f, (_, _, d)) if d.nonEmpty => f -> d }.toMap)
        } else {
          val (longs, strs, dbls) = collectFileStats(e0.adds)
          e0.copy(stats = longs, statsStr = strs, statsDbl = dbls)
        }
      } else e0
    Files.createDirectories(logDir)
    val base = Map[String, Object](
      "version" -> Long.box(e.version), "mode" -> e.mode,
      "timestampMs" -> Long.box(e.timestampMs), "schemaJson" -> e.schemaJson,
      "adds" -> e.adds.asJava, "removes" -> e.removes.asJava,
      "hasChanges" -> Boolean.box(e.hasChanges))
    val withBuckets = (e.bucketSpec match {
      case Some(s) => base ++ Map[String, Object](
        "bucketPks" -> s.pks.asJava, "numBuckets" -> Int.box(s.numBuckets))
      case None => base
    }) + ("changesMode" -> e.changesMode)
    val withTxn = e.txn match {
      case Some((app, v)) => withBuckets ++ Map[String, Object](
        "txnAppId" -> app, "txnVersion" -> Long.box(v))
      case None => withBuckets
    }
    // the table's partition layout is a create-time property (like the
    // bucket spec); stamp it on every entry from the resolved value so
    // call sites don't thread it through — unless the entry carries
    // its own (shallow clone of a partitioned table: dest doesn't
    // exist yet, so the instance resolves to empty)
    val tableParts =
      if (e.partitionCols.nonEmpty) e.partitionCols else partitionCols
    val withParts =
      if (tableParts.isEmpty) withTxn
      else withTxn + ("partitionCols" -> tableParts.asJava)
    val withStats =
      if (e.stats.isEmpty) withParts
      else withParts + ("stats" -> e.stats.map { case (f, cols) =>
        f -> cols.map { case (c, (lo, hi)) =>
          c -> java.util.List.of[Object](Long.box(lo), Long.box(hi))
        }.asJava
      }.asJava)
    val withStatsStr =
      if (e.statsStr.isEmpty) withStats
      else withStats + ("statsStr" -> e.statsStr.map { case (f, cols) =>
        f -> cols.map { case (c, (lo, hi)) =>
          c -> java.util.List.of[Object](lo, hi)
        }.asJava
      }.asJava)
    val withStatsDbl =
      if (e.statsDbl.isEmpty) withStatsStr
      else withStatsStr + ("statsDbl" -> e.statsDbl.map { case (f, cols) =>
        f -> cols.map { case (c, (lo, hi)) =>
          c -> java.util.List.of[Object](Double.box(lo), Double.box(hi))
        }.asJava
      }.asJava)
    val withChangeFiles =
      if (e.changeFiles.isEmpty) withStatsDbl
      else withStatsDbl + ("changeFiles" -> e.changeFiles.asJava)
    val withDvAdds =
      if (e.dvAdds.isEmpty) withChangeFiles
      else withChangeFiles + ("dvAdds" -> e.dvAdds.asJava)
    val withDvs =
      if (e.dvRemoves.isEmpty) withDvAdds
      else withDvAdds + ("dvRemoves" -> e.dvRemoves.asJava)
    val withConstraints =
      if (e.constraints.isEmpty) withDvs
      else withDvs + ("constraints" -> e.constraints.asJava)
    val withRenames =
      if (e.renames.isEmpty) withConstraints
      else withConstraints + ("renames" -> e.renames.asJava)
    // generated columns are a create-time property (like the partition
    // layout); stamp every entry from the resolved value — except when
    // the entry carries its own (shallow clone: the DEST table does
    // not exist yet, so the instance resolves to empty and the
    // source's rules must ride the entry or the clone silently loses
    // its generation/validation invariant)
    val tableGen =
      if (e.generatedCols.nonEmpty) e.generatedCols else generatedCols
    val withGen =
      if (tableGen.isEmpty) withRenames
      else withRenames + ("generatedCols" ->
        tableGen.map { case (n, x) => java.util.List.of(n, x) }.asJava)
    // identity spec is a create-time property stamped like the others
    // (entry override serves shallow clone, where the dest instance
    // resolves to empty); the high water rides only id-assigning
    // commits
    val tableId = e.identitySpec.orElse(identitySpec)
    val withIdSpec = tableId match {
      case Some(is) =>
        val m0 = withGen ++ Map[String, Object](
          "identityCol" -> is.name, "identityStart" -> Long.box(is.start),
          "identityStep" -> Long.box(is.step))
        // absent key = ALWAYS (the original contract), so pre-BY-DEFAULT
        // logs parse unchanged
        if (is.always) m0
        else m0 + ("identityAlways" -> java.lang.Boolean.FALSE)
      case None => withGen
    }
    val withIdHw = e.identityHighWater match {
      case Some(h) => withIdSpec + ("identityHighWater" -> Long.box(h))
      case None => withIdSpec
    }
    // protocol stamping: the running max of features ever used —
    // deletion vectors need reader 2, column mapping (rename/drop,
    // and re-add which only follows a drop) needs reader 3, initial
    // defaults need reader 4. Defaults are READER-affecting (pre-add
    // files are filled at read time from addDefaults): a build that
    // predates the feature would ignore the key and silently read
    // NULL for pre-add rows — exactly the skew minReader exists to
    // refuse — so the add-column commit must stamp the new level, not
    // ride at 1. Only the commit INTRODUCING a default stamps 4
    // (e.addDefaults nonEmpty: add-column and clone-carry entries);
    // later commits inherit it through currentMinReader.
    val derivedProto = Seq(
      if (e.addDefaults.nonEmpty) 4 else 1,
      if (e.renames.nonEmpty || e.mode == "drop" ||
        e.cloneRenames.nonEmpty || e.cloneReborn.nonEmpty ||
        e.cloneDropped.nonEmpty || e.cloneEraSchemas.nonEmpty) 3
      else 1,
      if (e.dvAdds.nonEmpty) 2 else 1).max
    val stampedProto =
      math.max(math.max(derivedProto, e.minReader), currentMinReader)
    val withProto =
      if (stampedProto <= 1) withIdHw
      else withIdHw + ("minReader" -> Int.box(stampedProto))
    // writer protocol (the minWriter half): 2 = CHECK constraints /
    // generated columns (write-side validation an unaware writer would
    // skip), 3 = identity columns (write-side assignment it would
    // omit), 4 = append-only (write-side refusal it would ignore).
    // Running max, never downgraded (dropping a constraint does not
    // lower the level — the Delta rule), stamped on every entry for
    // O(1) recovery.
    val derivedWriter = Seq(
      if (e.constraints.get(PropPrefix + AppendOnlyProp).contains("true"))
        4 else 1,
      if (tableId.nonEmpty) 3 else 1,
      if (e.constraints.exists(!_._1.startsWith(PropPrefix)) ||
        tableGen.nonEmpty) 2 else 1).max
    val stampedWriter =
      math.max(math.max(derivedWriter, e.minWriter), currentMinWriter)
    val withWriterProto =
      if (stampedWriter <= 1) withProto
      else withProto + ("minWriter" -> Int.box(stampedWriter))
    // cumulative default-column map rides every entry (latest entry =
    // full map, O(1) cold-open recovery — the protocol-stamp pattern)
    val tableDefaults =
      if (e.addDefaults.nonEmpty) e.addDefaults else defaultsEncoded
    val withDefaults =
      if (tableDefaults.isEmpty) withWriterProto
      else withWriterProto + ("addDefaults" -> tableDefaults.asJava)
    // clone-seeded column-mapping state rides the clone entry only;
    // the FOLD carries it forward (and checkpoints persist the folded
    // state), so later entries never repeat it
    val withCloneMap = {
      val a =
        if (e.cloneRenames.isEmpty) withDefaults
        else withDefaults + ("cloneRenames" -> e.cloneRenames.map {
          case (rv, f, t) => java.util.List.of[Object](Long.box(rv), f, t)
        }.asJava)
      val b =
        if (e.cloneReborn.isEmpty) a
        else a + ("cloneReborn" -> e.cloneReborn.map { case (c, rv) =>
          c -> Long.box(rv) }.asJava)
      val c =
        if (e.cloneDropped.isEmpty) b
        else b + ("cloneDropped" -> e.cloneDropped.asJava)
      if (e.cloneEraSchemas.isEmpty) c
      else c + ("cloneEraSchemas" -> e.cloneEraSchemas.map {
        case (w, j) => w.toString -> j }.asJava)
    }
    val bytes = mapper.writeValueAsBytes(withCloneMap.asJava)
    // writer-unique tmp: two committers racing the SAME version must
    // not share a tmp path, or the link winner could publish the
    // loser's bytes written into the common tmp between write and link
    val tmp = logDir.resolve(
      s".${e.version}.${java.util.UUID.randomUUID.toString.take(8)}.json.tmp")
    Files.write(tmp, bytes)
    try Files.createLink(logDir.resolve(s"${e.version}.json"), tmp)
    finally Files.deleteIfExists(tmp)
    // the entry is published — the inline stats parked for its adds
    // are consumed for good (a lost race keeps them for the retry)
    MiniLake.sharedLatestAdvance(canonPath, e.version)
    e.adds.foreach(pendingStats.remove)
    // the in-process high water advances only once the entry is
    // durably published (a failed commit must not burn ids forward of
    // what the log proves)
    e.identityHighWater.foreach(h => idHwCache = Some((e.version, h)))
    protoCache = Some(stampedProto)
    writerProtoCache = Some(stampedWriter)
    defaultsCache = Some(tableDefaults)
    maybeCheckpoint(e.version)
  }

  /** DESCRIBE DETAIL parity (Delta's table-inspection verb beside
    * [[history]]'s commit trail): ONE metadata row — location, current
    * version, commit/file/DV counts, layout (partition columns,
    * bucket spec), reader protocol, column list. Log-only (no data
    * scan), which is what makes it usable on a 100 TB table from a
    * notebook. File SIZES are deliberately absent: they vary with
    * compression/layout and would make no two engines' answers
    * comparable — counts and structure are the portable facts.
    */
  def detail: DataFrame = {
    import spark.implicits._
    require(exists, s"table $path does not exist")
    val st = state(latestVersion)
    Seq((path, latestVersion, listVersions.size.toLong,
      st.liveFiles.size.toLong, st.liveDvFiles.size.toLong,
      partitionCols.mkString(","),
      bucketSpec.map(b => s"${b.pks.mkString(",")}:${b.numBuckets}")
        .getOrElse(""),
      protocolVersion, schema.fieldNames.mkString(",")))
      .toDF("location", "version", "num_commits", "num_files",
        "num_dv_files", "partition_columns", "bucket_spec",
        "min_reader_version", "columns")
  }

  /** DESCRIBE HISTORY parity (S6 surface, full form): one row per
    * commit — version, operation, timestamp, file/DV deltas, whether
    * CDF rows were published. Metadata-only (reads the log, never the
    * data); the audit/debugging entry point every lake table needs.
    */
  def history: DataFrame = {
    import spark.implicits._
    listVersions.map(readEntry).map { e =>
      (e.version, e.mode, e.timestampMs, e.adds.size.toLong,
        e.removes.size.toLong, e.dvAdds.size.toLong,
        e.dvRemoves.size.toLong, e.hasChanges)
    }.toDF("version", "operation", "timestamp_ms", "n_files_added",
      "n_files_removed", "n_dvs_added", "n_dvs_removed", "has_changes")
  }

  /** Resolve a wall-clock instant to a version — Delta's
    * `TIMESTAMP AS OF`: the LATEST version committed at or before
    * `tsMillis`. Commit timestamps are non-decreasing by
    * construction (single-writer publish order); an instant before
    * the first commit is an explicit error, exactly as Delta raises.
    * Driver-side entry-timestamp walk — metadata-sized.
    */
  def versionAt(tsMillis: Long): Long = {
    val vs = listVersions
    require(vs.nonEmpty, s"table $path does not exist")
    val hits = vs.filter(v => readEntry(v).timestampMs <= tsMillis)
    require(hits.nonEmpty,
      s"no version of $path committed at or before timestamp " +
        s"$tsMillis (earliest is ${readEntry(vs.head).timestampMs})")
    hits.max
  }

  /** `TIMESTAMP AS OF` read: [[snapshot]] at [[versionAt]]. */
  def snapshotAt(tsMillis: Long): DataFrame = snapshot(versionAt(tsMillis))

  /** CDF from a TIMESTAMP — Delta's `startingTimestamp` semantics,
    * the mirror image of [[versionAt]]'s backward resolution: the
    * starting version is the FIRST commit stamped AT OR AFTER
    * `tsMillis` (commit stamps are non-decreasing by publish order),
    * so "changes since 9am" never silently includes the 8:59 commit.
    * An instant after the latest commit is an explicit error (Delta's
    * timestampGreaterThanLatestCommit), never an empty feed — an
    * empty answer to "what changed since X" must mean "nothing", not
    * "you asked past the end of history".
    */
  def readChangesSince(tsMillis: Long): DataFrame =
    readChanges(versionAtOrAfter(tsMillis), latestVersion)

  /** FORWARD timestamp resolution (the mirror of [[versionAt]]): the
    * first version committed at or after `tsMillis`. Shared by the
    * batch since-feed, the bounded window, and the streaming source's
    * `startingTimestamp` option. Past the end of history is an
    * explicit error, never an empty answer.
    */
  def versionAtOrAfter(tsMillis: Long): Long = {
    val vs = listVersions
    require(vs.nonEmpty, s"table $path does not exist")
    vs.find(v => readEntry(v).timestampMs >= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version of $path committed at or after timestamp " +
          s"$tsMillis (latest is ${readEntry(vs.last).timestampMs}); " +
          "a CDF start past the end of history is an error, not an " +
          "empty feed"))
  }

  /** CDF bounded by timestamps on BOTH ends — the `endingTimestamp`
    * half completing [[readChangesSince]]: the start resolves FORWARD
    * (first commit at or after `tsLo`, error past the end of history,
    * same as the one-sided verb), the end resolves BACKWARD (last
    * commit at or before `tsHi`, error before the first commit —
    * [[versionAt]]'s rule, so "changes until 5:00" never includes the
    * 5:01 commit). A window that lands strictly BETWEEN two commits
    * contains no commit and yields the schema'd EMPTY feed — "nothing
    * changed in that window" is a real answer, unlike a start past
    * the end of history. Driver-side: two metadata walks, then the
    * ordinary version-range read.
    */
  def readChangesBetween(tsLo: Long, tsHi: Long): DataFrame = {
    require(tsLo <= tsHi,
      s"inverted CDF window for $path: startingTimestamp $tsLo is " +
        s"after endingTimestamp $tsHi")
    val vs = listVersions
    require(vs.nonEmpty, s"table $path does not exist")
    val hiV = versionAt(tsHi) // refuses tsHi before the first commit
    vs.find(v => readEntry(v).timestampMs >= tsLo) match {
      case Some(loV) if loV <= hiV => readChanges(loV, hiV)
      case _ =>
        // no commit inside [tsLo, tsHi]: schema'd empty feed
        MiniLake.emptyDf(spark,
          MiniLake.changeSchema(schemaAt(latestVersion)))
    }
  }

  /** RESTORE TIMESTAMP AS OF — [[restoreTo]] at [[versionAt]]'s
    * backward resolution, the verb completing the timestamp-addressing
    * surface (snapshotAt / readChangesSince / readChangesBetween). */
  def restoreToTimestamp(tsMillis: Long): Unit =
    restoreTo(versionAt(tsMillis))

  def schemaAt(v: Long): StructType =
    DataType.fromJson(readEntry(v).schemaJson).asInstanceOf[StructType]

  def schema: StructType = schemaAt(latestVersion)

  // ---- reads --------------------------------------------------------

  private[lake] def liveFiles(asOf: Long): Seq[String] =
    state(asOf).liveFiles

  /** Deletion-vector files live as of `asOf` — added by
    * [[deleteVectored]] commits, retired whenever a commit rewrites
    * the whole live set (update/overwrite/COW delete/restore/optimize/
    * [[materializeDeletes]]). Same fold as [[liveFiles]]; DV rows whose
    * target data file has since left the live set are inert (their
    * `_dv_file` matches nothing at read time), so partial rewrites —
    * the bucketed merge — need no DV bookkeeping at all.
    */
  private def liveDvFiles(asOf: Long): Seq[String] =
    state(asOf).liveDvFiles

  /** Apply live deletion vectors to a file-sourced frame: anti-join on
    * (physical file, row position) from the `_metadata` struct — the
    * Iceberg positional-delete / Delta deletion-vector read shape. The
    * DV side is deleted-rows-sized (bounded by churn since the last
    * materialize, never table-sized), so it broadcasts; the scan side
    * stays a plain parquet scan with pushdown intact. When no DVs are
    * live this is the identity — zero cost on the hot path.
    */
  private def applyDvs(base: DataFrame, asOf: Long,
      keepPos: Boolean = false): DataFrame = {
    val dvFiles = liveDvFiles(asOf)
    if (dvFiles.isEmpty && !keepPos) base
    else {
      val withPos = base
        .withColumn(DvFileCol, col("_metadata.file_path"))
        .withColumn(DvPosCol, col("_metadata.row_index"))
      val joined =
        if (dvFiles.isEmpty) withPos
        else {
          val dv = spark.read.schema(DvSchema).parquet(dvFiles: _*)
          withPos.join(broadcast(dv), Seq(DvFileCol, DvPosCol), "left_anti")
        }
      if (keepPos) joined else joined.drop(DvFileCol, DvPosCol)
    }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta column-mapping
    * semantics): no data file is touched — the new entry carries the
    * renamed logical schema plus the (from → to) mapping, and every
    * read resolves files written before the rename by their era's
    * PHYSICAL name ([[readFiles]]). On a 100 TB table this is the
    * difference between an instant log append and rewriting the
    * world. Appends after the rename must use the new name
    * (requireSchemaMatch); stats recorded under the old physical name
    * stop pruning for old files (conservatively kept — sound) while
    * post-rename files prune under the new name.
    */
  /** ALTER TABLE ADD COLUMN with an INITIAL DEFAULT (Iceberg's
    * initial-default / the useful half of Delta's default columns):
    * a metadata-only commit — zero data rewritten — after which
    *  - files written BEFORE the add read `defaultSql` for the new
    *    column (schema-on-read, resolved per file era exactly like
    *    renames), and
    *  - batches written AFTER the add either carry the column
    *    (stored values win — including genuine NULLs, which read back
    *    as NULL, never as the default) or omit it (the default is
    *    MATERIALIZED at write, the Delta write-default behavior).
    * The change feed is deliberately different: CDF serves the
    * as-written row image, so pre-add versions show NULL there — the
    * feed is history, the snapshot is the current-schema read.
    */
  def addColumn(name: String, typeDdl: String,
      defaultSql: String): Unit = withCommitPlanning {
    val v = nextVersion
    require(v > 0, s"table $path does not exist")
    val sch = schema
    require(!sch.fieldNames.contains(name), s"column exists: $name")
    require(!droppedNames(v - 1).contains(name),
      s"cannot add '$name': the name was previously dropped and old " +
        "files still carry its physical column")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val newSch = StructType(sch.fields :+
      org.apache.spark.sql.types.StructField(name, dt, nullable = true))
    publish(v - 1)(CommitEntry(_, "add-column", System.currentTimeMillis(),
      newSch.json, Seq.empty, Seq.empty, hasChanges = false,
      bucketSpec = bucketSpec,
      addDefaults = defaultsEncoded + (name -> s"$v|$defaultSql")))
  }

  /** Cumulative default-column map, encoded `name -> "addVersion|sql"`
    * — stamped on every entry (like the protocol version), so the
    * LATEST entry always carries the full map: O(1) recovery on cold
    * open, never a log walk.
    */
  @volatile private var defaultsCache: Option[Map[String, String]] = None
  private def defaultsEncoded: Map[String, String] =
    defaultsCache.getOrElse {
      val d = if (!exists) Map.empty[String, String]
        else readEntry(listVersions.max).addDefaults
      defaultsCache = Some(d)
      d
    }

  /** Decoded (addVersion, column, defaultSql), add order. */
  private def columnDefaults: Seq[(Long, String, String)] =
    defaultsEncoded.toSeq.map { case (c, enc) =>
      val cut = enc.indexOf('|')
      (enc.substring(0, cut).toLong, c, enc.substring(cut + 1))
    }.sortBy(_._1)

  def renameColumn(from: String, to: String): Unit = withCommitPlanning {
    val v = nextVersion
    require(v > 0, s"table $path does not exist")
    val sch = schema
    require(sch.fieldNames.contains(from), s"no such column: $from")
    require(!sch.fieldNames.contains(to), s"column exists: $to")
    require(!generatedCols.exists(_._1 == from),
      s"cannot rename generated column: $from")
    // pre-drop file groups still physically carry a dropped column;
    // renaming another column INTO that name would hand conformTo two
    // physical sources for one logical name (ambiguous reference) —
    // and resolving it would resurrect retired bytes. Refuse.
    require(!droppedNames(v - 1).contains(to),
      s"cannot rename to '$to': the name was previously dropped and " +
        s"old files still carry its physical column")
    val newSch = StructType(sch.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    publish(v - 1)(CommitEntry(_, "rename", System.currentTimeMillis(),
      newSch.json, Seq.empty, Seq.empty, hasChanges = false,
      bucketSpec = bucketSpec, renames = Map(from -> to)))
  }

  /** Metadata-only DROP COLUMN: the new entry's logical schema simply
    * omits the column; reads select by name, so old files' extra
    * physical column is never decoded (parquet is columnar — the
    * bytes are not even read), and appends must omit it
    * (requireSchemaMatch). The complement of [[renameColumn]] in the
    * Delta column-mapping verb pair; like it, an instant log append
    * on a table of any size. Time travel before the drop still sees
    * the column (each version reads under its own schema).
    */
  def dropColumn(name: String): Unit = withCommitPlanning {
    val v = nextVersion
    require(v > 0, s"table $path does not exist")
    val sch = schema
    require(sch.fieldNames.contains(name), s"no such column: $name")
    require(sch.fields.length > 1, "cannot drop the last column")
    require(!bucketSpec.exists(_.pks.contains(name)) &&
      !partitionCols.contains(name),
      s"cannot drop a bucketing/partitioning column: $name")
    require(!generatedCols.exists(_._1 == name),
      s"cannot drop generated column: $name")
    val newSch = StructType(sch.filterNot(_.name == name))
    publish(v - 1)(CommitEntry(_, "drop", System.currentTimeMillis(),
      newSch.json, Seq.empty, Seq.empty, hasChanges = false,
      bucketSpec = bucketSpec))
  }

  /** The rename commits at or before `asOf`, oldest first:
    * (version, from, to). Metadata-sized fold.
    */
  private def renameChain(asOf: Long): Seq[(Long, String, String)] =
    state(asOf).renames

  /** Logical names retired by a DROP COLUMN commit and not since
    * re-added. Re-introduction via mergeSchema append is ALLOWED and
    * marks the column reborn (per-era reads null the old
    * incarnation's bytes — Delta column mapping's fresh physical id);
    * a RENAME target is still refused against this set, because the
    * renamed column's pre-rename bytes live in era files that also
    * physically carry the dropped name — two physical sources for one
    * logical name in the same file group (names renamed away are safe
    * to reuse: the rename chain consumes their physical column before
    * conformTo sees it).
    */
  private def droppedNames(asOf: Long): Set[String] =
    state(asOf).dropped

  /** Write version of a data file, parsed from its `data/v=N/w-…`
    * attempt path — the era whose logical schema IS the file's
    * physical column set.
    */
  private def writeVersionOf(f: String): Long = {
    val m = MiniLake.VersionSeg.findFirstMatchIn(f)
    require(m.isDefined, s"unversioned data path: $f")
    m.get.group(1).toLong
  }

  /** Read data `files` under the logical schema of `asOf`,
    * rename-aware: with no renames this is the plain one-scan path;
    * otherwise files group by write version, each group scans with
    * its era's physical schema (DVs apply per group — the `_metadata`
    * columns must resolve against a file relation, so DV anti-joins
    * cannot move above the union), the rename chain folds the old
    * names forward, and each slice conforms to the logical schema
    * (columns added by later evolution null-fill, as on the plain
    * path).
    */
  private def readFiles(files: Seq[String], asOf: Long,
      keepPos: Boolean = false): DataFrame = {
    val sch = schemaAt(asOf)
    val chain = renameChain(asOf)
    val reborn = state(asOf).reborn
    // initial defaults visible at asOf, with each defaulted column's
    // name folded FORWARD through renames committed after its add (so
    // the fill lands on the current logical name), and names that are
    // no longer in the schema (dropped later) excluded
    val defs = columnDefaults.filter(_._1 <= asOf)
      .map { case (av, c, sql) =>
        val cur = chain.foldLeft(c) { case (n, (rv, f, t)) =>
          if (rv > av && f == n) t else n }
        (av, cur, sql)
      }
      .filter { case (_, c, _) => sch.fieldNames.contains(c) }
    val eras = state(asOf).eraSchemas
    if (chain.isEmpty && reborn.isEmpty && defs.isEmpty && eras.isEmpty)
      applyDvs(spark.read.schema(sch).parquet(files: _*), asOf, keepPos)
    else {
      val target =
        if (!keepPos) sch
        else StructType(sch.fields ++ MiniLake.DvSchema.fields)
      // a cloned file's era is a SOURCE commit absent from this log:
      // its physical schema rides the clone entry (eraSchemas); eras
      // committed in this table's own log resolve as before
      def eraSchemaOf(w: Long): StructType = eras.get(w)
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(schemaAt(w))
      files.groupBy(writeVersionOf).toSeq.sortBy(_._1).map { case (w, fs) =>
        val scanned = applyDvs(
          spark.read.schema(eraSchemaOf(w)).parquet(fs: _*), asOf, keepPos)
        val renamed = chain.filter(_._1 > w).foldLeft(scanned) {
          case (d, (_, f, t)) => d.withColumnRenamed(f, t)
        }
        // a REBORN column reads NULL from files older than its
        // rebirth: their physical bytes under that name belong to the
        // dropped incarnation (fresh-physical-id semantics)
        val cleansed = reborn.foldLeft(renamed) { case (d, (c, rv)) =>
          if (rv > w && d.columns.contains(c)) d.drop(c) else d
        }
        // files from eras BEFORE an add-column read its INITIAL
        // DEFAULT (files from later eras store real values — genuine
        // NULLs included, which must stay NULL)
        val defaulted = defs.foldLeft(cleansed) { case (d, (av, c, sql)) =>
          if (av > w && !d.columns.contains(c))
            d.withColumn(c,
              expr(sql).cast(sch(sch.fieldIndex(c)).dataType))
          else d
        }
        MiniLake.conformTo(defaulted, target)
      }.reduce(_ unionByName _)
    }
  }

  /** Materialize any ABSENT defaulted columns on an incoming batch
    * (the write-side half of the initial-default contract, mirroring
    * [[withGenerated]]). */
  private def withDefaults(df: DataFrame): DataFrame = {
    if (!exists) return df
    val sch = schema
    val chain = renameChain(latestVersion)
    columnDefaults.foldLeft(df) { case (d, (av, c0, sql)) =>
      val c = chain.foldLeft(c0) { case (n, (rv, f, t)) =>
        if (rv > av && f == n) t else n }
      if (!sch.fieldNames.contains(c) || d.columns.contains(c)) d
      else d.withColumn(c, expr(sql).cast(sch(sch.fieldIndex(c)).dataType))
    }
  }

  /** Full snapshot as of `asOf` (default: latest). S1 surface.
    * Merge-on-read: live deletion vectors are applied here, so every
    * consumer (reads, COW rewrites, merges) sees the post-delete
    * table without the delete having rewritten a single data file.
    */
  def snapshot(asOf: Long = latestVersion): DataFrame = {
    require(asOf >= 0, s"table $path does not exist")
    val files = liveFiles(asOf)
    val sch = schemaAt(asOf)
    if (files.isEmpty) emptyDf(spark, sch)
    else readFiles(files, asOf)
  }

  /** Partition-pruned snapshot: `keep` sees each live file's partition
    * values (col → string value, e.g. Map("day" -> "2024-01-03")) and
    * decides whether to scan it. The filter runs on the DRIVER against
    * the file list — metadata-sized work, no Spark job — so a query
    * touching 3 of 1000 daily partitions opens 3 directories' files,
    * exactly Delta/Hive partition-pruning semantics. Within the kept
    * files, predicates still push down to parquet row-group stats as
    * usual. On a non-partitioned table every file has an empty value
    * map (prune by returning false for it if that is intended).
    */
  def snapshotWhere(keep: Map[String, String] => Boolean): DataFrame = {
    require(latestVersion >= 0, s"table $path does not exist")
    val files = liveFiles(latestVersion).filter(f => keep(partValuesOf(f)))
    val sch = schemaAt(latestVersion)
    if (files.isEmpty) emptyDf(spark, sch)
    else readFiles(files, latestVersion)
  }

  /** Stats-pruned range read (data skipping): open only the live files
    * whose footer-derived [min, max] for `colName` intersects
    * [lo, hi], then apply the exact filter. With the bucketed layout's
    * in-file PK sort, a point/range lookup on a 100 TB table touches
    * the handful of files whose ranges overlap — the commit log is the
    * skipping index, no scan required to decide. Files without stats
    * (non-INT64 column, legacy entries) are conservatively kept.
    */
  def snapshotForRange(colName: String, lo: Long, hi: Long): DataFrame =
    snapshotForRanges(Map(colName -> (lo, hi)))

  /** Multi-column stats pruning: open only files whose per-column
    * [min, max] intersects EVERY requested range. One range gives the
    * classic sorted-layout skip; several ranges over a Z-ORDERED
    * layout ([[graft.ops.Layout.zorderValue]]) prune on all clustered
    * dimensions at once, because the space-filling-curve sort keeps
    * each file's bounding rectangle tight in every dimension — the
    * multi-dimensional analogue a 100 TB table needs when queries
    * filter on more than one column.
    */
  def snapshotForRanges(ranges: Map[String, (Long, Long)]): DataFrame = {
    require(latestVersion >= 0, s"table $path does not exist")
    require(ranges.nonEmpty, "at least one column range required")
    val statsByFile = state(latestVersion).stats
    val files = liveFiles(latestVersion).filter { f =>
      ranges.forall { case (colName, (lo, hi)) =>
        statsByFile.get(f).flatMap(_.get(colName)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }
    val sch = schemaAt(latestVersion)
    val base =
      if (files.isEmpty) emptyDf(spark, sch)
      else readFiles(files, latestVersion)
    ranges.foldLeft(base) { case (d, (c, (lo, hi))) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** DOUBLE-column data skipping — same index, IEEE min/max from the
    * footers (NaN-poisoned stats are dropped at collection, so every
    * recorded range is a sound bound; rows with NaN values are never
    * range-selected anyway since NaN comparisons are false). This is
    * what metric/score columns (quality scores, embedding norms,
    * prices as raw doubles) need when the layout clusters on them.
    * Files without double stats are conservatively kept; the exact
    * filter always reapplies.
    */
  def snapshotForDoubleRange(colName: String, lo: Double,
      hi: Double): DataFrame =
    snapshotForDoubleRanges(Map(colName -> (lo, hi)))

  def snapshotForDoubleRanges(
      ranges: Map[String, (Double, Double)]): DataFrame = {
    require(latestVersion >= 0, s"table $path does not exist")
    require(ranges.nonEmpty, "at least one column range required")
    val statsByFile = state(latestVersion).statsDbl
    val files = liveFiles(latestVersion).filter { f =>
      ranges.forall { case (colName, (lo, hi)) =>
        statsByFile.get(f).flatMap(_.get(colName)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }
    val sch = schemaAt(latestVersion)
    val base =
      if (files.isEmpty) emptyDf(spark, sch)
      else readFiles(files, latestVersion)
    ranges.foldLeft(base) { case (d, (c, (lo, hi))) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** String-column data skipping: same index, UTF8 min/max. The
    * string case is what day-partitioned-as-string event tables and
    * language/source dictionary columns need — a `lang = 'en'` or
    * `day BETWEEN ..` lookup on a layout clustered by that column
    * opens only the files whose [min, max] intersects. Files without
    * string stats (oversized values, legacy entries) are
    * conservatively kept; the exact filter always reapplies.
    */
  def snapshotForStringRange(colName: String, lo: String,
      hi: String): DataFrame =
    snapshotForStringRanges(Map(colName -> (lo, hi)))

  def snapshotForStringRanges(
      ranges: Map[String, (String, String)]): DataFrame = {
    require(latestVersion >= 0, s"table $path does not exist")
    require(ranges.nonEmpty, "at least one column range required")
    val statsByFile = state(latestVersion).statsStr
    val files = liveFiles(latestVersion).filter { f =>
      ranges.forall { case (colName, (lo, hi)) =>
        statsByFile.get(f).flatMap(_.get(colName)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }
    val sch = schemaAt(latestVersion)
    val base =
      if (files.isEmpty) emptyDf(spark, sch)
      else readFiles(files, latestVersion)
    ranges.foldLeft(base) { case (d, (c, (lo, hi))) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Build/refresh the file-level Bloom index for `colName` (long-
    * typed) over the current live set — ONE aggregation job keyed on
    * the physical file, sidecar-published ([[BloomIndex]]). Point
    * lookups via [[snapshotForPoint]] then skip files that provably
    * lack the value — the skipping min/max stats cannot give on a
    * column the layout doesn't cluster.
    */
  def buildBloomIndex(colName: String,
      expectedItemsPerFile: Long = 1L << 16, fpp: Double = 0.01): Unit =
    BloomIndex.build(spark, path, colName, liveFiles(latestVersion),
      schema, expectedItemsPerFile, fpp)

  /** Bloom-pruned point lookup: open only live files whose per-file
    * Bloom might contain one of `values`, then apply the exact
    * predicate (Bloom false positives are extra reads, never wrong
    * rows; unindexed files are conservatively kept). The prune is a
    * driver-side metadata decision, exactly like the min/max paths.
    */
  def snapshotForPoint(colName: String, values: Seq[Long]): DataFrame = {
    require(latestVersion >= 0, s"table $path does not exist")
    val index = BloomIndex.open(path, colName)
    val files = liveFiles(latestVersion)
      .filter(f => index.mightContain(f, values))
    val sch = schemaAt(latestVersion)
    val base =
      if (files.isEmpty) emptyDf(spark, sch)
      else readFiles(files, latestVersion)
    base.filter(col(colName).isin(values: _*))
  }

  /** Partition values encoded in a file's path (`_p_<col>=<value>`). */
  private def partValuesOf(file: String): Map[String, String] =
    file.split('/').iterator
      .filter(_.startsWith(PartPrefix))
      .map { seg =>
        val eq = seg.indexOf('=')
        (seg.substring(PartPrefix.length, eq),
          unescapePathName(seg.substring(eq + 1)))
      }.toMap

  /** Row-level changes for the inclusive version range [lo, hi], with
    * the three CDC metadata columns appended — the S2 surface. An empty
    * range (lo > hi) yields an empty, correctly-schema'd frame.
    */
  /** Earliest version whose change data is still retained — the
    * retention boundary checkpoints advance when they prune change
    * metadata older than the horizon. Reads below it refuse; 0 means
    * the full feed is available (Delta's earliest-available-CDF-
    * version answer).
    */
  def changeRetentionFloor: Long = state(latestVersion).changeFloor

  def readChanges(lo: Long, hi: Long): DataFrame =
    readChangesWhere(lo, hi, _ => true)

  /** Change composition of commit `v` from METADATA alone (no change
    * file opened): "none" (publishes no CDF rows — optimize, vacuumed
    * metadata, clones), "insert-only" (blind appends / pure-insert
    * merges whose feed is the added data), "delete-only" (COW and DV
    * deletes), or "update" (rewrites that mix preimages/postimages —
    * update, merge with deletes, merge-update, merge-sync, overwrite,
    * restore). The streaming source's `skipChangeCommits` /
    * `ignoreDeletes` options classify commits with this before any
    * file is read — Delta's convenience-option contract.
    */
  def changeClassAt(v: Long): String = {
    val e = readEntry(v)
    if (!e.hasChanges) "none"
    else if (e.changesMode == "insertsFromData") "insert-only"
    else e.mode match {
      case "delete" | "delete-dv" => "delete-only"
      case _ => "update"
    }
  }

  /** [[readChanges]] restricted to the commits `admit` accepts: the
    * pruning happens at the ENTRY level, so a skipped commit's change
    * files are never opened — on a 100 TB table a reader skipping a
    * full-rewrite commit skips the rewrite-sized change read too.
    */
  private[graft] def readChangesWhere(lo: Long, hi: Long,
      admit: Long => Boolean): DataFrame = {
    val sch = schema
    // retention boundary: change metadata below the floor was pruned
    // by a checkpoint (files released to vacuum) — refuse explicitly
    // rather than serve a silently partial feed. Delta's CDF draws
    // the same line at its log-retention horizon.
    val floor = state(latestVersion).changeFloor
    if (lo < floor && hi >= lo)
      throw new IllegalStateException(
        s"change data for versions < $floor of $path has passed the " +
          s"retention horizon (requested [$lo, $hi]); re-read from a " +
          "snapshot or start at a retained version")
    val versions = listVersions.filter(v => v >= lo && v <= hi && admit(v))
    val withChanges = versions.map(v => (v, readEntry(v))).filter(_._2.hasChanges)
    if (withChanges.isEmpty) {
      emptyDf(spark, changeSchema(sch))
    } else {
      withChanges.map { case (v, e) =>
        val entrySchema = DataType.fromJson(e.schemaJson).asInstanceOf[StructType]
        val base = e.changesMode match {
          case "insertsFromData" =>
            (if (e.adds.isEmpty) emptyDf(spark, entrySchema)
             else spark.read.schema(entrySchema).parquet(e.adds: _*))
              .withColumn(ChangeType, lit("insert"))
          case _ =>
            // entry-listed change files (legacy entries without the
            // list fall back to the version's changes directory)
            val src =
              if (e.changeFiles.nonEmpty) e.changeFiles
              else Seq(root.resolve(s"changes/v=$v").toString)
            spark.read.schema(changeDataSchema(entrySchema))
              .parquet(src: _*)
        }
        // entries written before a mergeSchema evolution carry the
        // narrower schema of their day; conform every slice to the
        // CURRENT schema (missing columns null-fill) so the union is
        // well-typed across evolution boundaries
        val renamedBase = renameChain(latestVersion)
          .filter(_._1 > v).foldLeft(base) {
            case (d, (_, from, to)) => d.withColumnRenamed(from, to)
          }
        // reborn columns: slices older than the rebirth must not
        // expose the dropped incarnation's values (same per-era rule
        // as readFiles)
        val cleansed = state(latestVersion).reborn
          .foldLeft(renamedBase) { case (d, (c, rv)) =>
            if (rv > v && d.columns.contains(c)) d.drop(c) else d
          }
        conformTo(cleansed, changeDataSchema(sch))
          .withColumn(CommitVersion, lit(v))
          .withColumn(CommitTimestamp,
            timestamp_millis(lit(e.timestampMs)).cast("timestamp"))
      }.reduce(_ unionByName _)
    }
  }

  // ---- writes -------------------------------------------------------

  /** Commit-interior queries are short-lived batch×snapshot joins and
    * writes whose join strategy is static (broadcast for batch-sized
    * deltas, shuffle otherwise); adaptive execution re-plans them
    * stage by stage, which costs several driver round-trips per commit
    * and buys nothing at that shape — skew in the merge path is
    * handled by the bucketed layout, not runtime re-planning.
    */
  private def withCommitPlanning[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    // restore to a ONCE-captured session default, not the value read
    // at entry: two overlapping commits (an abandoned streaming
    // micro-batch thread racing the next writer) would otherwise read
    // each other's transient "false" as the previous value and leak
    // AQE off for the rest of the session — observed as
    // order-dependent plan-shape flakes in unrelated suites.
    val prev = MiniLake.aqeSessionDefault(spark)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  private def nextVersion: Long = latestVersion + 1

  // `compact` tables (metadata-sized, e.g. watermarks) write a single
  // file per commit — otherwise every tiny commit fans out one file
  // per shuffle partition.
  private def maybeCompact(df: DataFrame): DataFrame =
    if (compact) df.coalesce(1) else df

  /** Every write attempt gets its own directory (`.../v=<v>/w-<uuid>`):
    * the log entry — not the directory tree — is the source of truth
    * for which files belong to a commit. Two writers racing for the
    * same version therefore can never interleave files in one
    * directory (the loser's files are unreferenced garbage that
    * vacuum reclaims), and a writer that died before publishing
    * leaves debris that blocks nothing.
    */
  private def attemptDir(kind: String, v: Long): Path = root.resolve(
    s"$kind/v=$v/w-${java.util.UUID.randomUUID.toString.take(8)}")

  // Target file count for a write whose row count is already known
  // (merge deltas are counted before writing): ~1M rows per file keeps
  // files scan-friendly without fanning a 400-row commit into 32
  // one-row files. Writes of unknown size keep their natural layout.
  private def filesFor(rows: Long): Int =
    math.max(1L, math.min(256L, rows / RowsPerFile + 1)).toInt

  /** Active CHECK constraints (name → SQL predicate), folded from the
    * log: add/drop are metadata-only commits, so the active set at any
    * version is a driver-side fold over metadata-sized entries — the
    * Delta `delta.constraints.*` table-property mechanism re-expressed
    * as explicit commit modes (readable in DESCRIBE HISTORY).
    */
  def checkConstraints: Map[String, String] =
    state(latestVersion).constraints
      .filterNot { case (k, _) => k.startsWith(MiniLake.PropPrefix) }

  /** Table properties (Delta `ALTER TABLE ... SET TBLPROPERTIES`):
    * key → value pairs folded from metadata-only commits. They ride
    * the same log fold as CHECK constraints under a reserved `prop:`
    * namespace — the value travels in the predicate slot and is NEVER
    * evaluated (checkConstraints and the write probe filter the
    * namespace out), so properties survive checkpoints, clones, and
    * cold reopens with zero new persistence machinery.
    */
  def tableProperties: Map[String, String] =
    state(latestVersion).constraints.collect {
      case (k, v) if k.startsWith(MiniLake.PropPrefix) =>
        k.stripPrefix(MiniLake.PropPrefix) -> v
    }

  def setTableProperty(key: String, value: String): Unit = {
    require(exists, s"table $path does not exist")
    publish(latestVersion)(CommitEntry(_, "setProperty",
      System.currentTimeMillis(), schema.json, Seq.empty, Seq.empty,
      hasChanges = false, bucketSpec = bucketSpec,
      constraints = Map(MiniLake.PropPrefix + key -> value)))
  }

  def unsetTableProperty(key: String): Unit = {
    require(tableProperties.contains(key),
      s"no table property '$key' on $path")
    publish(latestVersion)(CommitEntry(_, "unsetProperty",
      System.currentTimeMillis(), schema.json, Seq.empty, Seq.empty,
      hasChanges = false, bucketSpec = bucketSpec,
      constraints = Map(MiniLake.PropPrefix + key -> "")))
  }

  /** `delta.appendOnly` enforcement (the Delta writer feature): once
    * set, every verb that would remove or change an existing row —
    * DELETE (COW and DV), UPDATE, MERGE (both flavors), overwrite,
    * replacePartitions, RESTORE — refuses; appends (plain, concurrent,
    * txn-marked), OPTIMIZE/Z-order compaction, materializeDeletes and
    * vacuum remain legal because they preserve the logical row set.
    * The guard is a driver-side map lookup on the already-folded
    * state — zero cost on the write path.
    */
  private def requireNotAppendOnly(verb: String): Unit =
    require(!tableProperties.get(MiniLake.AppendOnlyProp)
        .contains("true"),
      s"$verb is not allowed on append-only table $path " +
        s"(table property ${MiniLake.AppendOnlyProp}=true; unset it " +
        "to mutate existing rows)")

  /** ALTER TABLE ADD CONSTRAINT ... CHECK (Delta semantics): rejects
    * unless EVERY existing row satisfies the predicate (one snapshot
    * scan — the unavoidable cost Delta pays too), then publishes a
    * metadata-only commit. SQL-standard CHECK: a row violates only
    * when the predicate evaluates to FALSE; NULL passes.
    */
  def addCheckConstraint(name: String, predicate: String): Unit = {
    require(exists, s"table $path does not exist")
    require(!checkConstraints.contains(name),
      s"CHECK constraint '$name' already exists on $path")
    val readV = latestVersion
    require(
      snapshot(readV).filter(expr(predicate) <=> lit(false)).isEmpty,
      s"cannot add CHECK constraint '$name' ($predicate): " +
        s"existing rows of $path violate it")
    publish(readV)(CommitEntry(_, "addConstraint",
      System.currentTimeMillis(), schema.json, Seq.empty, Seq.empty,
      hasChanges = false, bucketSpec = bucketSpec,
      constraints = Map(name -> predicate)))
  }

  /** ALTER TABLE DROP CONSTRAINT: metadata-only commit. */
  def dropCheckConstraint(name: String): Unit = {
    require(checkConstraints.contains(name),
      s"no CHECK constraint '$name' on $path")
    publish(latestVersion)(CommitEntry(_, "dropConstraint",
      System.currentTimeMillis(), schema.json, Seq.empty, Seq.empty,
      hasChanges = false, bucketSpec = bucketSpec,
      constraints = Map(name -> "")))
  }

  /** Write-path CHECK enforcement, applied where every data-carrying
    * commit funnels ([[writeData]]): one combined-predicate probe scan
    * of the incoming batch when constraints exist (zero extra work
    * otherwise), per-constraint attribution only on the failure path.
    * A violating batch throws BEFORE any log entry is written — under
    * log-is-the-table, the aborted attempt's files are invisible
    * debris for vacuum, never state.
    */
  private def requireCheckConstraints(df: DataFrame): Unit = {
    // generated columns validate as implicit CHECKs in the same probe:
    // a caller-supplied value must equal the generation expression
    // (for engine-computed values the predicate is a tautology
    // evaluated inside the already-paid scan)
    val cs = checkConstraints ++ generatedCols.map { case (n, x) =>
      s"generated col $n" -> s"`$n` <=> ($x)"
    }
    if (cs.nonEmpty) {
      // ONE aggregate pass: a per-constraint violation count in a
      // single job (sum(when(violates, 1))) — probe and attribution
      // together, instead of a probe scan plus one extra scan per
      // constraint on the failure path
      val counts = df.agg(
        count(lit(1)).as("_n"),
        cs.toSeq.map { case (n, p) =>
          sum(when(expr(p) <=> lit(false), 1L).otherwise(0L)).as(n)
        }: _*).head()
      val names = cs.keys.toSeq.filter(n =>
        counts.getAs[Long](n) > 0L)
      if (names.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint violation writing to $path: " +
            names.sorted.mkString(", "))
    }
  }

  /** `checked = false` skips the CHECK-constraint probe: rewrite-only
    * commits (optimize/compact/materialize/restore's republish) read
    * data that is ALREADY committed — it provably satisfied every
    * active constraint when it landed, so re-probing would be a free
    * extra full scan per rewrite.
    */
  private def writeData(df: DataFrame, v: Long,
      rowHint: Option[Long] = None,
      dirOverride: Option[Path] = None,
      checked: Boolean = true,
      preserveLayout: Boolean = false): Seq[String] = {
    if (checked) requireCheckConstraints(df)
    val dir = dirOverride.getOrElse(attemptDir("data", v))
    // a layout-bearing frame (Z-order's range-partitioned file fan)
    // must keep its partitioning — the file COUNT is the layout, so
    // the small-batch driver fast path is excluded wholesale
    def localBatch(d: DataFrame): Option[(Seq[Row], StructType)] =
      if (preserveLayout) None else localBatchRows(d, rowHint)
    bucketSpec match {
      case Some(spec) =>
        // hash-bucketed layout: files land under _bucket=<k>/ so a
        // later merge can rewrite only the buckets its delete keys
        // touch. The bucket column lives in the path only, never in
        // the files (schema'd reads of leaf files skip inference).
        // Repartitioning on the bucket value bounds the commit at one
        // file per bucket (otherwise every input partition fans out
        // one file per bucket it sees — a tiny-file storm that taxes
        // every later footer read); at cluster scale the partition
        // count would be numBuckets × a size-based factor, which
        // still lands correctly because partitionBy splits by value
        // regardless of task layout. Rows sort by PK within each task
        // so parquet min/max stats stay tight for row-group skipping.
        // Small batches take the driver fast path: same one file per
        // live bucket, same PK sort, stats computed inline.
        val withB = df.withColumn(BucketCol, bucketExpr(spec))
        localBatch(withB) match {
          case Some((rows, sch)) =>
            writeLocalGrouped(rows, sch, Seq(BucketCol), spec.pks, dir)
          case None =>
            withB.repartition(spec.numBuckets, col(BucketCol))
              .sortWithinPartitions((BucketCol +: spec.pks).map(col): _*)
              .write.partitionBy(BucketCol).parquet(dir.toString)
        }
      case None if partitionCols.nonEmpty =>
        // value-partitioned layout: duplicate each partition column
        // into a path-only `_p_<col>` string so leaf files keep the
        // full schema (reads never need partition discovery) while
        // the directory tree carries the value for driver-side
        // pruning. Repartitioning on the partition values bounds the
        // commit at one file per live partition value — without it,
        // every input task fans out one file per value it sees.
        // Small batches whose partition values are path-literal (no
        // escaping, no nulls) take the driver fast path: same one
        // file per live value, same directory naming.
        val pCols = partitionCols.map(c => s"$PartPrefix$c")
        val withP = partitionCols.zip(pCols).foldLeft(df) {
          case (d, (c, p)) => d.withColumn(p, col(c).cast("string"))
        }
        val local = localBatch(withP).filter { case (rows, sch) =>
          val idx = pCols.map(sch.fieldIndex)
          rows.forall(r => idx.forall(i =>
            !r.isNullAt(i) && MiniLake.PathSafe.matches(r.getString(i))))
        }
        local match {
          case Some((rows, sch)) =>
            writeLocalGrouped(rows, sch, pCols, Seq.empty, dir)
          case None =>
            withP.repartition(partitionCols.map(col): _*)
              .write.partitionBy(pCols: _*).parquet(dir.toString)
        }
      case None =>
        localBatch(df) match {
          case Some((rows, sch)) =>
            writeLocalParquet(rows, sch, dir)
          case None =>
            rowHint.map(n => df.coalesce(filesFor(n)))
              .getOrElse(maybeCompact(df))
              .write.parquet(dir.toString)
        }
    }
    parquetFilesIn(dir)
  }

  /** Fast path probe for small commits: a batch that is statically a
    * driver-local relation of simply-typed rows (the watermark-bump /
    * streaming-marker / scripted-lifecycle shape), OR an arbitrary
    * plan whose Catalyst size estimate (or the caller's row count) is
    * metadata-sized, can skip the Spark write job entirely — collected
    * in ONE job (or zero for a LocalRelation) and written by the
    * driver. A distributed write for a tiny batch costs ~100-200 ms of
    * job launch + committer protocol; gate lifecycles commit dozens of
    * such batches and at one commit per micro-batch that overhead IS
    * the ingest latency floor (VERDICT r12 #3: the old gate fired only
    * for LocalRelation plans, so parquet-derived small frames paid the
    * full job).
    *
    * File-count parity: the driver path writes ONE file (per layout
    * value); every layout-deterministic distributed shape it replaces
    * (compact's coalesce(1), rowHint's filesFor ≤ 1M rows, bucketed /
    * partitioned one-file-per-value repartition) writes the same.
    * The row cap stays far below [[RowsPerFile]] so the rowHint
    * equivalence can never cross a file boundary.
    */
  private def localBatchRows(df: DataFrame,
      rowHint: Option[Long] = None): Option[(Seq[Row], StructType)] = {
    import org.apache.spark.sql.types._
    val simple = df.schema.fields.forall(_.dataType match {
      case LongType | IntegerType | DoubleType | BooleanType |
           StringType => true
      case _ => false
    })
    if (!simple) None
    // ANALYZED-plan LocalRelation (the bare toDF/createDataFrame shape
    // every scripted-lifecycle commit has): rows extracted with no
    // optimizer pass and no physical planning — the per-commit fixed
    // cost the q232 profiler measured after the listing/Configuration
    // fixes
    else org.apache.spark.sql.GraftSql
        .localRelationRows(df, MaxLocalFastPathRows) match {
      case Some(rows) => Some((rows, df.schema))
      case None => df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.length <= MaxLocalFastPathRows =>
        // LocalTableScanExec.executeCollect is driver-local: no job
        Some((df.collect().toSeq, df.schema))
      case p =>
        // A caller who repartitioned the batch chose its file fan —
        // Z-order's range-partitioned curve, a bucketing experiment —
        // and collapsing that to one driver file silently destroys the
        // layout (ZorderSpec caught exactly this). Any
        // RepartitionOperation in the plan opts the frame out.
        val callerShaped = p.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical
              .RepartitionOperation => true
          case _ => false
        }
        // Stats-gated bounded collect: trust the caller's count when
        // present, else Catalyst's size estimate (parquet-backed plans
        // estimate from file bytes, so a 100 TB rewrite can never look
        // small). The row cap re-checks AFTER the collect — a frame a
        // lying estimate let through still spills to the job path
        // rather than producing an over-wide driver file.
        val small = !callerShaped && rowHint.map(_ <= MaxDriverWriteRows)
          .getOrElse(p.stats.sizeInBytes <= MaxDriverWriteBytes)
        if (!small) None
        else {
          val rows = df.collect()
          if (rows.length <= MaxDriverWriteRows) Some((rows.toSeq, df.schema))
          else None
        }
      }
    }
  }

  /** Driver-side parquet write of a metadata-sized batch — one file,
    * standard footer stats (so data skipping and CDF reads see exactly
    * what a Spark-written file would carry). Only reached via
    * [[localBatchRows]]' gate: `compact` table, LocalRelation source,
    * simple column types, bounded row count.
    */
  /** Inline-computed file stats for driver-written files, keyed by
    * exact output path (UUID-unique), consumed once by [[writeEntry]]
    * — saves the footer re-read the distributed path pays.
    */
  private val pendingStats = scala.collection.concurrent.TrieMap.empty[
    String, (Map[String, (Long, Long)], Map[String, (String, String)],
      Map[String, (Double, Double)])]

  /** Driver-side write of a small LAYOUT-GROUPED batch: rows split by
    * the `groupCols` values into one file per live value under the
    * same `<col>=<value>/` directories `partitionBy` would create,
    * sorted within each group by `sortCols` (the bucketed layout's PK
    * sort — tight parquet min/max for row-group skipping), with the
    * group columns stripped from the files exactly as `partitionBy`
    * strips its partition columns. Callers guarantee the group values
    * are path-literal (bucket ids are integers; the partitioned branch
    * pre-checks [[MiniLake.PathSafe]]).
    */
  private def writeLocalGrouped(rows: Seq[Row], sch: StructType,
      groupCols: Seq[String], sortCols: Seq[String],
      dir: Path): Seq[String] = {
    // the attempt dir must exist even when the batch is empty (zero
    // groups): parquetFilesIn walks it unconditionally, exactly as a
    // distributed write would have created it
    Files.createDirectories(dir)
    val gIdx = groupCols.map(sch.fieldIndex)
    val keep = sch.fields.indices.filterNot(gIdx.contains)
    val leafSchema = StructType(keep.map(sch.fields))
    val ord = MiniLake.rowOrdering(leafSchema, sortCols)
    rows.groupBy(r => gIdx.map(i => r.get(i))).toSeq
      .flatMap { case (values, group) =>
        val sub = groupCols.zip(values).foldLeft(dir) {
          case (d, (c, v)) => d.resolve(s"$c=$v")
        }
        val stripped = group.map(r =>
          Row.fromSeq(keep.map(r.get)): Row)
        val sorted =
          if (sortCols.isEmpty) stripped else stripped.sorted(ord)
        writeLocalParquet(sorted, leafSchema, sub)
      }
  }

  private def writeLocalParquet(rows: Seq[Row], sch: StructType,
      dir: Path): Seq[String] = {
    import org.apache.spark.sql.types._
    Files.createDirectories(dir)
    val out = dir.resolve(
      s"part-00000-${java.util.UUID.randomUUID.toString}.parquet")
    val msg = MiniLake.parquetMessageType(sch)
    // prepared per-schema conf (template copy + setSchema done once per
    // JVM, not per file — the q232 r14 profiler's Configuration.<init>/
    // putAll frames); writers only read it, so sharing is safe.
    val conf = MiniLake.parquetConfFor(msg)
    // nio LocalOutputFile, NOT the Hadoop Path overload: the Hadoop
    // route wraps ChecksumFileSystem (a .crc sidecar write + stream
    // wrapping) and measures ~2× slower per tiny file — at one commit
    // per micro-batch that overhead is ingest latency.
    // Metadata-sized batches (≤ MaxDriverWriteRows simple-typed rows):
    // the default 128 MiB row group / 1 MiB page pre-allocate buffers
    // five orders of magnitude larger than the data (the profiler's
    // ByteArrayOutputStream/HeapBytesCompressor frames under build());
    // 1 MiB groups with 64 KiB pages bound the allocation, and
    // UNCOMPRESSED skips the per-file codec setup — compressing a
    // few-hundred-byte file is pure overhead on both ends.
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(out))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
      .withRowGroupSize(1L << 20)
      .withPageSize(64 << 10)
      .withDictionaryPageSize(64 << 10)
      .build()
    // stats accumulate while writing — same families and bounds the
    // footer read would yield (INT64 exact, DOUBLE skipping NaN,
    // strings kept only when both bounds fit MaxStatsStringLen)
    val accL = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val accS = scala.collection.mutable.Map.empty[String, (String, String)]
    val accD = scala.collection.mutable.Map.empty[String, (Double, Double)]
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      sch.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case LongType    =>
            val v = r.getLong(i); g.add(f.name, v)
            accL(f.name) = accL.get(f.name) match {
              case Some((lo, hi)) => (math.min(lo, v), math.max(hi, v))
              case None => (v, v)
            }
          case IntegerType => g.add(f.name, r.getInt(i))
          case DoubleType  =>
            val v = r.getDouble(i); g.add(f.name, v)
            if (!v.isNaN) accD(f.name) = accD.get(f.name) match {
              case Some((lo, hi)) => (math.min(lo, v), math.max(hi, v))
              case None => (v, v)
            }
          case BooleanType => g.add(f.name, r.getBoolean(i))
          case StringType  =>
            val v = r.getString(i); g.add(f.name, v)
            accS(f.name) = accS.get(f.name) match {
              case Some((lo, hi)) =>
                (if (v < lo) v else lo, if (v > hi) v else hi)
              case None => (v, v)
            }
          case other => throw new IllegalStateException(
            s"unreachable: $other passed the localBatchRows type gate")
        }
      }
      writer.write(g)
    } finally writer.close()
    pendingStats.put(out.toString, (accL.toMap,
      accS.toMap.filter { case (_, (lo, hi)) =>
        lo.length <= MiniLake.MaxStatsStringLen &&
          hi.length <= MiniLake.MaxStatsStringLen },
      accD.toMap))
    Seq(out.toString)
  }

  private def writeChanges(changes: DataFrame, v: Long,
      rowHint: Option[Long] = None): Seq[String] = {
    val dir = attemptDir("changes", v)
    localBatchRows(changes, rowHint) match {
      case Some((rows, sch)) =>
        val fs = writeLocalParquet(rows, sch, dir)
        // change files never ride the adds stats — drop the inline
        // entry writeEntry would otherwise leave parked forever
        fs.foreach(pendingStats.remove)
        fs
      case None =>
        val sized =
          if (compact) changes.coalesce(1)
          else rowHint.map(n => changes.coalesce(filesFor(n)))
            .getOrElse(changes)
        sized.write.parquet(dir.toString)
        parquetFilesIn(dir)
    }
  }

  /** First write / full replace without history (S3). `overwrite` on an
    * existing table records delete-changes for every prior row followed
    * by inserts — the Delta CDF behavior downstream consumers rely on
    * (test_datalake.py:273-334). `rowHint` sizes the file layout when
    * the caller already counted the batch (saves a coalesce guess).
    */
  def create(df: DataFrame, rowHint: Option[Long] = None): Unit = {
    require(!exists, s"table $path already exists")
    val (stamped, idHw) = withIdentityAssigned(df)
    commitInsertOnly(withGenerated(stamped), mode = "create", rowHint,
      idHw = idHw)
  }

  /** Append (S3). With `mergeSchema = true`, Delta's additive schema
    * evolution: columns new in `df` widen the table schema (forced
    * nullable), columns missing from `df` null-fill, and shared
    * columns must keep their exact type. The widened schema lands in
    * this commit's log entry, so `schema`/`snapshot` pick it up and
    * files written before the evolution read back with nulls in the
    * new columns — no rewrite of history (schema-on-read, the only
    * evolution that is feasible on a 100 TB table).
    */
  def append(batch: DataFrame, mergeSchema: Boolean = false): Unit = {
    val (stamped, idHw) = withIdentityAssigned(batch)
    val df = withDefaults(withGenerated(stamped))
    if (mergeSchema && exists) {
      val prior = schema
      val frozen = bucketSpec.toSeq.flatMap(_.pks).toSet ++
        generatedCols.map(_._1) ++ identitySpec.map(_.name)
      val merged = mergedSchemaWith(prior, df.schema, path, frozen)
      // type widening is READER-affecting (pre-widen narrow-physical
      // files must be upcast under the wide schema), so the widening
      // commit stamps its own protocol level like DVs/mapping/defaults
      // do — mirroring Delta's typeWidening reader feature. A build
      // predating the feature would rely on its parquet reader
      // happening to upcast; refusing is the honest contract.
      val priorTypes = prior.fields.map(f => f.name -> f.dataType).toMap
      val widened = merged.fields.exists(f =>
        priorTypes.get(f.name).exists(_ != f.dataType))
      commitInsertOnly(conformTo(df, merged), mode = "append",
        rowHint = None, idHw = idHw,
        minReader = if (widened) 5 else 1)
    } else {
      requireSchemaMatch(df)
      commitInsertOnly(df, mode = "append", rowHint = None, idHw = idHw)
    }
  }

  /** Highest transaction version committed for `appId`, or -1 — the
    * Delta `txnAppId`/`txnVersion` idempotence protocol for streaming
    * writers. Driver-side log scan, metadata-sized.
    */
  def lastTxnVersion(appId: String): Long =
    state(latestVersion).txnMax.getOrElse(appId, -1L)

  /** Idempotent append for replayable writers (foreachBatch streaming
    * sinks): the (appId, txnVersion) marker commits ATOMICALLY with the
    * data — inside the same log entry — so a sink that crashed between
    * write and bookkeeping cannot double-apply on replay. Returns false
    * (no commit) when this txn version was already applied, including
    * by a racing replay that published first.
    */
  def appendIfAbsent(batch: DataFrame, appId: String,
      txnVersion: Long): Boolean = {
    val readV = latestVersion
    def applied = lastTxnVersion(appId) >= txnVersion
    if (applied) false
    else {
      withCommitPlanning {
        // identity rides the SAME atomic entry as the (appId,
        // txnVersion) marker: a sink that crashed between write and
        // bookkeeping replays, the marker check above skips the data
        // AND the ids together — nothing is double-assigned and no id
        // is burned by a replay. The base derives from entries ≤ readV
        // and the verb admits no winner, so the ids it publishes are
        // exactly the ones it stamped.
        val (stamped, idHw) = withIdentityAssigned(batch, Some(readV))
        val df = withGenerated(stamped)
        requireSchemaMatch(df)
        val adds = writeData(df, readV + 1, None)
        try {
          publish(readV)(CommitEntry(_, "append",
            System.currentTimeMillis(), df.schema.json, adds, Seq.empty,
            hasChanges = true, bucketSpec = bucketSpec,
            changesMode = "insertsFromData",
            txn = Some(appId -> txnVersion), identityHighWater = idHw))
          true
        } catch {
          // a racing replay of the same (appId, txnVersion) won: the
          // data is applied, and this replay is the verb's no-op
          case _: java.util.ConcurrentModificationException if applied =>
            false
        }
      }
    }
  }

  /** Optimistic-concurrency append: safe under CONCURRENT writers.
    * Blind appends commute (file-level adds, no removes), so losing
    * the atomic log-entry publish is not a real conflict — this
    * variant writes its data files ONCE into an attempt directory
    * stamped with its read version (the log references files by path,
    * so nothing ties them to the claimed version) and then [[publish]]
    * retries only the metadata-sized entry until it claims a version.
    * Rewrite commits (merge/update/overwrite) stay single-winner —
    * their remove sets are computed against a specific snapshot, so
    * the loser MUST fail rather than publish a stale rewrite.
    *
    * At cluster scale this is the multi-writer ingest contract: any
    * number of executors/jobs appending concurrently, each paying one
    * distributed write plus a few driver-side retry reads.
    */
  def appendConcurrent(batch: DataFrame): Long = {
    // the attempt dir is stamped with the READ version, not the claimed
    // one: the version segment is the file's schema ERA for rename-
    // aware reads (writeVersionOf), and this writer's schema is exactly
    // the table schema at its read version. A schema-changing winner
    // (rename/drop/mergeSchema) after the read fails the schema match
    // in the conflict rule below, so a committed append's era schema
    // can never diverge from its files.
    val readV = latestVersion
    // Identity under concurrency rides an id-range RESERVATION: count
    // the batch (persisted first, so the count is stable), durably
    // claim [hwm+step, hwm+n·step] in a metadata-only commit, then
    // stamp from the claimed base. Two racing writers collide on the
    // reservation version, not on the ids; the expensive distributed
    // data write happens exactly once per writer either way.
    var persisted: Option[DataFrame] = None
    // BY DEFAULT batch carrying explicit ids: no reservation (the
    // values are the caller's), but the winning entry must advance
    // the high water past max(supplied) — computed from entries ≤ v-1
    // of the claimed version, because an absolute mark derived from
    // stale state could REGRESS a racing generator's higher mark and
    // re-expose its range
    var suppliedExtreme: Option[Long] = None
    // write-defaults materialize on every insert path (append parity):
    // an omitting batch must not fail the schema match just because it
    // arrived through the concurrent verb
    val df = identitySpec match {
      case None => withDefaults(withGenerated(batch))
      case Some(spec) if batch.columns.contains(spec.name) =>
        require(!spec.always,
          s"GENERATED ALWAYS AS IDENTITY column '${spec.name}' cannot " +
            "be user-supplied")
        val g = withDefaults(withGenerated(batch))
        val row = g.agg(
          count(when(col(spec.name).isNull, 1)).as("nulls"),
          max(col(spec.name).cast("long")).as("mx"),
          min(col(spec.name).cast("long")).as("mn")).head
        require(row.getLong(0) == 0L,
          s"identity column '${spec.name}' of $path cannot be NULL " +
            "(omit the column to generate values)")
        if (!row.isNullAt(1))
          suppliedExtreme =
            Some(if (spec.step > 0) row.getLong(1) else row.getLong(2))
        g
      case Some(spec) =>
        val g = withDefaults(withGenerated(batch))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted = Some(g)
        val n = g.count()
        val base = reserveIdentityRange(spec, n)
        assignIdentityFrom(g, spec, base, expectN = Some(n))._1
    }
    requireSchemaMatch(df)
    val adds = withCommitPlanning {
      writeData(df, -1L, None, Some(attemptDir("data", math.max(0L, readV))))
    }
    persisted.foreach(_.unpersist()) // data is on disk; cache done
    // a blind append commutes with every winner that leaves the table
    // schema writable for this batch; a schema-changing winner lands
    // WITHOUT a version collision (it simply advances the version), so
    // only this check keeps a stale schemaJson from reverting it
    publish(readV, _ => { requireSchemaMatch(df); None })(v =>
      CommitEntry(v, "append", System.currentTimeMillis(),
        df.schema.json, adds, Seq.empty, hasChanges = true,
        bucketSpec = bucketSpec, changesMode = "insertsFromData",
        identityHighWater = suppliedExtreme.flatMap(sup =>
          identitySpec.map(spec => MiniLake.advancePast(spec,
            identityHighWaterAt(v - 1).getOrElse(spec.start - spec.step),
            sup)))))
  }

  /** OPTIMIZE-style bin-packing compaction: rewrite the live file set
    * into ~1M-row files (per bucket for bucketed tables) in one commit
    * with `hasChanges = false` — readers see identical rows, the change
    * feed sees nothing (Delta OPTIMIZE semantics), vacuum can then
    * reclaim the small files. The antidote to ingest patterns (many
    * tiny commits, streaming appends) whose per-file overhead taxes
    * every later scan.
    */
  def compactFiles(): Unit = withCommitPlanning {
    val v = nextVersion
    val prior = liveFiles(v - 1)
    if (prior.nonEmpty) {
      val sch = schema
      // OPTIMIZE doubles as DV materialization: the rewrite reads
      // through the deletion vectors, so the compacted files carry
      // only surviving rows and the DVs retire with the old files.
      val data = readFiles(prior, v - 1)
      val n = data.count()
      val adds = writeData(data, v, rowHint = Some(n), checked = false)
      publish(v - 1)(CommitEntry(_, "optimize", System.currentTimeMillis(),
        sch.json, adds, prior, hasChanges = false,
        bucketSpec = bucketSpec, dvRemoves = liveDvFiles(v - 1)))
    }
  }

  /** OPTIMIZE ZORDER BY (a, b): the whole-table rewrite of
    * [[compactFiles]] with the output laid along the 2-D Z-curve
    * ([[graft.ops.Layout.zorderWrite]] — range-partitioned by
    * interleaved key into `numFiles` files), so every rewritten file
    * carries TIGHT min/max stats on BOTH clustered columns and
    * [[snapshotForRanges]] probes open a handful of files instead of
    * the table. This is the Delta `OPTIMIZE ... ZORDER BY` verb: the
    * remedy for ingest-ordered layouts whose per-file stats span the
    * full domain of every probe column (each such file intersects
    * every range → zero pruning). Reads through deletion vectors and
    * retires them, like any optimize. No rowHint on the write: the
    * z-layout's file count IS the layout — the row-count bin-packing
    * of [[compactFiles]] would coalesce the curve away.
    */
  def compactZorder(cols: (String, String), numFiles: Int = 16): Unit =
    withCommitPlanning {
      val v = nextVersion
      val prior = liveFiles(v - 1)
      if (prior.nonEmpty) {
        val sch = schema
        val data = readFiles(prior, v - 1)
        val adds = writeData(
          graft.ops.Layout.zorderWrite(data, cols, numFiles), v,
          checked = false, preserveLayout = true)
        publish(v - 1)(CommitEntry(_, "optimize", System.currentTimeMillis(),
          sch.json, adds, prior, hasChanges = false,
          bucketSpec = bucketSpec, dvRemoves = liveDvFiles(v - 1)))
      }
    }

  /** Partition-scoped OPTIMIZE: compact only the partitions `keep`
    * selects (same driver-side file-list predicate as
    * [[snapshotWhere]]). On a 1000-partition table where yesterday's
    * ingest left 500 small files in ONE day, this rewrites that day
    * and nothing else — the whole-table [[compactFiles]] would decode
    * and rewrite 100 TB to fix 1 GB. Untouched partitions' files stay
    * live in place; deletion vectors are untouched too (a DV row for
    * a rewritten file goes inert, and the rewrite reads through DVs,
    * so row content is preserved either way).
    */
  def compactPartitions(keep: Map[String, String] => Boolean): Unit =
    withCommitPlanning {
      val v = nextVersion
      val hit = liveFiles(v - 1).filter(f => keep(partValuesOf(f)))
      if (hit.nonEmpty) {
        val sch = schema
        val data = readFiles(hit, v - 1)
        val n = data.count()
        val adds = writeData(data, v, rowHint = Some(n), checked = false)
        publish(v - 1)(CommitEntry(_, "optimize", System.currentTimeMillis(),
          sch.json, adds, hit, hasChanges = false,
          bucketSpec = bucketSpec))
      }
    }

  /** Partition-scoped overwrite — Delta's `replaceWhere`: atomically
    * swap the CONTENTS of the partitions `keep` selects for `batch`,
    * leaving every other partition's files untouched in place. The
    * idiomatic daily-restatement verb: correcting one day of a
    * 1000-day table removes+adds that day's files only, where a full
    * [[overwrite]] rewrites 100 TB to fix 1 GB.
    *
    * Delta's constraint check is enforced: every incoming row must
    * fall INSIDE the replaced partition set (checked driver-side over
    * the batch's DISTINCT partition tuples — bounded by partitions
    * touched, never rows), otherwise the commit is refused before any
    * write. CDF publishes the row-level story: one `delete` preimage
    * per replaced live row (read through deletion vectors) and one
    * `insert` per incoming row. Returns (#inserted, #deleted).
    */
  def replacePartitions(keep: Map[String, String] => Boolean,
      batch: DataFrame): (Long, Long) = withCommitPlanning {
    require(partitionCols.nonEmpty,
      s"replacePartitions requires a partitioned table ($path has no " +
        "partition columns)")
    requireNotAppendOnly("replacePartitions")
    // identity keeps counting upward across the partition rewrite
    // (replaced rows never free their ids — the same contract
    // overwrite has); BY DEFAULT batches may carry explicit ids
    val (stamped, idHw) = withIdentityAssigned(batch)
    val df = withGenerated(stamped)
    requireSchemaMatch(df)
    val tuples = df
      .select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
    tuples.foreach { r =>
      val m = partitionCols.zipWithIndex.map { case (c, i) =>
        c -> r.getString(i) }.toMap
      require(keep(m),
        s"replacePartitions: batch rows in partition $m fall outside " +
          "the replaced set (Delta replaceWhere constraint)")
    }
    val v = nextVersion
    // the delete scope must be provable from the path alone, so a
    // mixed-era live set (pre-evolution files missing current spec
    // keys) refuses — compaction rewrites everything under the
    // current spec first
    val preEvo = liveFiles(v - 1).filterNot(f =>
      partitionCols.forall(c => partValuesOf(f).contains(c)))
    require(preEvo.isEmpty,
      s"replacePartitions on $path requires every live file under the " +
        s"current partition spec (${partitionCols.mkString(",")}); " +
        s"${preEvo.size} pre-evolution file(s) remain — run " +
        "compactFiles() after evolvePartitioning()")
    val doomed = liveFiles(v - 1).filter(f => keep(partValuesOf(f)))
    val prior =
      if (doomed.isEmpty) emptyDf(spark, schema)
      else readFiles(doomed, v - 1)
    val nDel = prior.count()
    val nIns = df.count()
    val changes = prior.withColumn(ChangeType, lit("delete"))
      .unionByName(df.withColumn(ChangeType, lit("insert")))
    // retire DV sidecars whose EVERY target row points into the
    // replaced partitions — without this they stay in liveDvFiles
    // forever (vacuum-protected, carried through every checkpoint): a
    // state/space leak, though reads stay correct since the target
    // files are gone. Metadata-sized: distinct (sidecar, target)
    // pairs, bounded by DV churn since the last materialize, never
    // rows. A sidecar with any surviving target stays live (its rows
    // for doomed files are inert — same as compactPartitions).
    val liveDvs = liveDvFiles(v - 1)
    val dvRemoved: Seq[String] =
      if (liveDvs.isEmpty || doomed.isEmpty) Seq.empty
      else {
        val doomedSet = doomed.map(MiniLake.localPath).toSet
        // driver-side footer pre-filter: a sidecar whose [min,max]
        // target range contains NO doomed path cannot target the
        // replaced partitions at all — skip its row-level scan, and
        // when no sidecar survives skip the Spark job entirely. This
        // keeps DV-light workloads' replacePartitions free of the
        // full-sidecar scan (one footer read per live sidecar,
        // metadata-sized, same machinery as collectFileStats). Stored
        // target paths may be file: URIs, so both spellings probe the
        // range; missing stats stay conservative (scan).
        val conf = spark.sparkContext.hadoopConfiguration
        val candidates = liveDvs.filter { dvf =>
          MiniLake.dvTargetRange(conf, dvf) match {
            case Some((lo, hi)) => doomedSet.exists { d =>
              (lo <= d && d <= hi) ||
                { val u = "file:" + d; lo <= u && u <= hi }
            }
            case None => true
          }
        }
        if (candidates.isEmpty) Seq.empty
        else {
          val byDv = spark.read.schema(MiniLake.DvSchema)
            .parquet(candidates: _*)
            .select(col("_metadata.file_path").as("_dv_sidecar"),
              col(DvFileCol))
            .distinct().collect()
            .groupBy(r => MiniLake.localPath(r.getString(0)))
          candidates.filter { dvf =>
            byDv.get(MiniLake.localPath(dvf))
              .exists(_.forall(r =>
                doomedSet(MiniLake.localPath(r.getString(1)))))
          }
        }
      }
    val (adds, chg) = inParallel(
      writeData(df, v, rowHint = Some(nIns)),
      writeChanges(changes, v, rowHint = Some(nDel + nIns)))
    publish(v - 1)(CommitEntry(_, "overwrite", System.currentTimeMillis(),
      df.schema.json, adds, doomed, hasChanges = true,
      bucketSpec = bucketSpec, changeFiles = chg, dvRemoves = dvRemoved,
      identityHighWater = idHw))
    (nIns, nDel)
  }

  /** Insert-only commit: the data files double as the change feed
    * (changesMode=insertsFromData) — one write instead of two.
    */
  private def commitInsertOnly(data: DataFrame, mode: String,
      rowHint: Option[Long], idHw: Option[Long] = None,
      minReader: Int = 1): Unit =
    withCommitPlanning {
      val v = nextVersion
      val adds = writeData(data, v, rowHint)
      publish(v - 1)(CommitEntry(_, mode, System.currentTimeMillis(),
        data.schema.json, adds, Seq.empty, hasChanges = true,
        bucketSpec = bucketSpec, changesMode = "insertsFromData",
        identityHighWater = idHw, minReader = minReader))
    }

  /** A commit's data and change files land in independent directories
    * and neither write reads the other's output, so the two Spark jobs
    * run concurrently — commit latency is max(write, write) instead of
    * the sum. Matters because small-commit cost is job-count-bound, not
    * data-bound (each tiny write is ~one task plus fixed scheduling).
    */
  private def inParallel[A, B](left: => A, right: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val r = Future(right)
    val a = left
    (a, Await.result(r, Duration.Inf))
  }

  def overwrite(batch: DataFrame): Unit = {
    if (!exists) { create(batch); return }
    requireNotAppendOnly("overwrite")
    // compute absent generated columns here too — every insert-style
    // verb (create/append/appendIfAbsent/appendConcurrent/merge)
    // already does, and a raw batch failing on overwrite but passing
    // on append would be an inconsistent write surface
    // identity keeps counting upward across a full rewrite (replaced
    // rows never free their ids — the Delta identity contract)
    val (stamped, idHw) = withIdentityAssigned(batch)
    val df = withDefaults(withGenerated(stamped))
    val readV = latestVersion
    val prior = snapshot(readV)
    val changes = prior.withColumn(ChangeType, lit("delete"))
      .unionByName(df.withColumn(ChangeType, lit("insert")))
    commitWithChanges(readV, df, mode = "overwrite", changes = changes,
      idHw = idHw)
  }

  /** Full rewrite read at `readV`: every live file and deletion vector
    * retires — the rewrite reads THROUGH the deletion vectors
    * (snapshot applies them), so the new files already exclude DV'd
    * rows.
    */
  private def commitWithChanges(readV: Long, data: DataFrame, mode: String,
      changes: DataFrame, idHw: Option[Long] = None): Unit =
    withCommitPlanning {
      val v = readV + 1
      val (adds, chg) = inParallel(writeData(data, v), writeChanges(changes, v))
      publish(readV)(CommitEntry(_, mode, System.currentTimeMillis(),
        data.schema.json, adds, liveFiles(readV), hasChanges = true,
        bucketSpec = bucketSpec, changeFiles = chg,
        dvRemoves = liveDvFiles(readV), identityHighWater = idHw))
    }

  /** The shared front of [[merge]] and [[mergeConcurrent]]: identity
    * guards, the schema check, and the deltas. Merging ON the identity
    * column itself is impossible by construction (ALWAYS forbids
    * caller-supplied values, so incoming rows cannot name a PK to
    * match) — refused explicitly; the merge verbs never accept
    * caller-supplied ids, even BY DEFAULT.
    */
  private def mergeDeltas(verb: String, inserts: DataFrame,
      deletes: DataFrame, pks: Seq[String], readV: Long): MergeDeltas = {
    identitySpec.foreach { spec =>
      require(!pks.contains(spec.name),
        s"cannot merge on GENERATED AS IDENTITY column " +
          s"'${spec.name}' of $path: incoming rows can never supply it")
      require(!inserts.columns.contains(spec.name) &&
        !deletes.columns.contains(spec.name),
        s"GENERATED AS IDENTITY column '${spec.name}' cannot " +
          s"be user-supplied to $verb (the insert side always generates, " +
          "even BY DEFAULT)")
    }
    val ins = withGenerated(inserts)
    requireSchemaMatch(ins, exceptIdentity = true)
    val target = snapshot(readV)
    // A statically-empty side (pure-insert or pure-delete batches —
    // the common CDC shapes) skips its joins entirely: each skipped
    // broadcast join is a driver-side plan + an extra Spark job, which
    // dominates small-commit latency.
    val emptyDel = knownEmpty(deletes)
    val emptyIns = knownEmpty(ins)
    // Deletes apply BEFORE the not-matched-insert check (the reference
    // executes whenMatchedDelete then whenNotMatchedInsertAll,
    // datalake.py:194-211) — so a PK deleted and re-inserted in the
    // same batch (e.g. from an upstream overwrite) lands correctly.
    val delKeys = deletes.select(pks.map(col): _*).distinct()
    val toDelete =
      if (emptyDel) emptyDf(spark, target.schema)
      else target.join(delKeys, pks, "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept =
      if (emptyDel) target else target.join(delKeys, pks, "left_anti")
    // identity tables anti-join and count WITHOUT the id column (the
    // batch can't carry it), then stamp ids on exactly the rows that
    // insert — reordered to the table layout afterwards
    val insCols = target.columns.filterNot(c =>
      identitySpec.exists(_.name == c))
    val toInsertRaw =
      if (emptyIns) emptyDf(spark, target.schema)
      else ins.join(kept.select(pks.map(col): _*), pks, "left_anti")
        .select(insCols.map(col).toSeq: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MergeDeltas(target, delKeys, toDelete, kept, toInsertRaw, emptyDel,
      emptyIns)
  }

  /** MERGE (S4): `whenNotMatchedInsertAll` ∪ `whenMatchedDelete`, keyed
    * on `pks` — implemented Spark-natively as two anti-joins
    * (datalake.py:194-211). Re-inserting an existing PK is a no-op
    * (idempotent replay, design_doc.md at-least-once note). Returns
    * (#inserted, #deleted) for the caller's metrics (M1).
    */
  def merge(inserts: DataFrame, deletes: DataFrame,
      pks: Seq[String]): (Long, Long) = withCommitPlanning {
    requireNotAppendOnly("merge")
    // identity: insert-side rows get ids assigned AFTER the
    // not-matched anti-join (only rows that actually insert consume
    // ids), continuing from the high-water mark — merge admits no
    // concurrent winner, like append, so no reservation is needed.
    val readV = latestVersion
    val MergeDeltas(target, delKeys, toDelete, kept, toInsertRaw,
      emptyDel, emptyIns) = mergeDeltas("merge", inserts, deletes, pks, readV)

    // The deltas are batch-sized (not table-sized), so persisting them
    // is scale-safe and saves recomputing the anti-joins for the count,
    // the change file, and the data write. The commit decision needs
    // the matched-delete count per bucket and the insert count; both
    // are per-partition counts over the just-persisted deltas, so take
    // them as plain RDD jobs — no exchange, no adaptive re-planning,
    // one job per delta (the result is at most one entry per bucket,
    // driver-safe at any scale).
    val delByBucket: Map[Long, Long] =
      if (emptyDel) Map.empty
      else {
        val delBucket = bucketSpec.map(bucketExpr).getOrElse(lit(-1L)).cast("long")
        toDelete.groupBy(delBucket.as("b")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val nIns = if (emptyIns) 0L else toInsertRaw.count()
    val (toInsert, idHw) = identitySpec match {
      case Some(spec) if !emptyIns =>
        val base = identityHighWater.getOrElse(spec.start - spec.step)
        val (stamped, hw) =
          assignIdentityFrom(toInsertRaw, spec, base, expectN = Some(nIns))
        (stamped.select(target.columns.map(col).toSeq: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          Some(hw))
      case _ => (toInsertRaw, None)
    }
    val nDel = delByBucket.values.sum
    val affected = delByBucket.keySet
    val v = readV + 1
    if (nDel > 0) {
      // copy-on-write of the affected data. Bucketed tables rewrite
      // ONLY the buckets holding matched delete rows (a PK's row can
      // only live in its own bucket, so kept-rows outside those
      // buckets are untouched and their files stay live); unbucketed
      // tables rewrite the whole live set.
      val (newData, removed) = bucketSpec match {
        case Some(_) =>
          val prior = liveFiles(readV)
          val hit = prior.filter(f =>
            affected.exists(k => f.contains(s"/$BucketCol=$k/")))
          val affectedTarget =
            if (hit.isEmpty) emptyDf(spark, target.schema)
            else readFiles(hit, readV)
          val keptAffected = affectedTarget.join(delKeys, pks, "left_anti")
          (keptAffected.unionByName(toInsert), hit)
        case None =>
          (kept.unionByName(toInsert), liveFiles(readV))
      }
      val (adds, chg) = inParallel(writeData(newData, v),
        writeChanges(toDelete.withColumn(ChangeType, lit("delete"))
          .unionByName(toInsert.withColumn(ChangeType, lit("insert"))), v,
          rowHint = Some(nIns + nDel)))
      publish(readV)(CommitEntry(_, "merge", System.currentTimeMillis(),
        target.schema.json, adds, removed, hasChanges = true,
        bucketSpec = bucketSpec, changeFiles = chg,
        identityHighWater = idHw))
    } else {
      // pure insert: append-only commit, no rewrite of existing files;
      // the added files double as the change feed
      val adds = writeData(toInsert, v, rowHint = Some(nIns))
      publish(readV)(CommitEntry(_, "merge", System.currentTimeMillis(),
        target.schema.json, adds, Seq.empty, hasChanges = true,
        bucketSpec = bucketSpec, changesMode = "insertsFromData",
        identityHighWater = idHw))
    }
    toDelete.unpersist()
    toInsertRaw.unpersist()
    if (!(toInsert eq toInsertRaw)) toInsert.unpersist()
    (nIns, nDel)
  }

  /** [[merge]] under OPTIMISTIC CONCURRENCY — Delta's commit-protocol
    * conflict detection for rewrite commits, where [[appendConcurrent]]
    * covers blind appends. Requires a bucketed table: the hash-bucket
    * layout is what makes two rewrites' read/write sets PROVABLY
    * disjoint from metadata alone (a PK's row can only live in its
    * own bucket).
    *
    * Protocol: compute the deltas and write data/change files ONCE
    * against the snapshot at entry (`readV`), then [[publish]]. Every
    * winner committed after `readV` is examined:
    *  - a winner whose touched files all carry bucket ids DISJOINT
    *    from this merge's affected buckets, with an unchanged schema
    *    and no renames/DVs, cannot have seen or produced any row this
    *    merge read or writes — publish at the next version;
    *  - anything else (overlapping buckets, schema change, DV delete,
    *    unbucketed files, constraint/metadata commits) invalidates the
    *    snapshot this rewrite was computed from — throw
    *    [[java.util.ConcurrentModificationException]] so the caller
    *    re-runs against fresh state, exactly Delta's
    *    ConcurrentAppend/ConcurrentDeleteRead contract.
    *
    * At cluster scale this is the multi-pipeline MERGE contract: N
    * jobs upserting different key ranges commit concurrently with one
    * distributed write each; only genuinely overlapping keys pay a
    * retry-from-scratch.
    */
  def mergeConcurrent(inserts: DataFrame, deletes: DataFrame,
      pks: Seq[String]): (Long, Long) = withCommitPlanning {
    requireNotAppendOnly("mergeConcurrent")
    val spec = bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"mergeConcurrent requires a bucketed table ($path is unbucketed): " +
        "bucket scope is what makes concurrent rewrites provably disjoint"))
    val readV = latestVersion
    val mySchemaJson = schemaAt(readV).json
    val MergeDeltas(target, delKeys, toDelete, _, toInsertRaw,
      emptyDel, emptyIns) =
      mergeDeltas("mergeConcurrent", inserts, deletes, pks, readV)
    def byBucket(df: DataFrame, statically: Boolean): Map[Long, Long] =
      if (statically) Map.empty
      else df.groupBy(bucketExpr(spec).cast("long").as("b")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delByBucket = byBucket(toDelete, emptyDel)
    val insByBucket = byBucket(toInsertRaw, emptyIns)
    val nDel = delByBucket.values.sum
    val nIns = insByBucket.values.sum
    // identity under concurrent MERGE rides the same id-range
    // reservation appendConcurrent uses (Delta's discipline): count
    // the rows that actually insert, durably claim the range in a
    // metadata-only commit BEFORE the data write (the claimed range is
    // durable before any data references it), stamp, then publish.
    // Two racing merges collide on the reservation version, never on
    // the ids.
    val toInsert = identitySpec match {
      case Some(idSpec) if nIns > 0 =>
        val base = reserveIdentityRange(idSpec, nIns)
        assignIdentityFrom(toInsertRaw, idSpec, base,
          expectN = Some(nIns))._1
          .select(target.columns.map(col).toSeq: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case _ => toInsertRaw
    }
    // the read/write footprint: buckets this merge rewrote (deletes)
    // plus buckets whose ABSENCE check justified an insert — a winner
    // inserting the same PK would land in one of these
    val affected = delByBucket.keySet ++ insByBucket.keySet
    // data/change files are written once, pinned to the entry snapshot
    // (attempt dirs stamped with readV = the files' schema era)
    val (adds, removed, chg, changesMode) =
      if (nDel > 0) {
        val prior = liveFiles(readV)
        val hit = prior.filter(f =>
          delByBucket.keySet.exists(k => f.contains(s"/$BucketCol=$k/")))
        val affectedTarget =
          if (hit.isEmpty) emptyDf(spark, target.schema)
          else readFiles(hit, readV)
        val keptAffected = affectedTarget.join(delKeys, pks, "left_anti")
        val (a, c) = inParallel(
          writeData(keptAffected.unionByName(toInsert), -1L,
            dirOverride = Some(attemptDir("data", readV))),
          writeChanges(toDelete.withColumn(ChangeType, lit("delete"))
            .unionByName(toInsert.withColumn(ChangeType, lit("insert"))),
            readV, rowHint = Some(nIns + nDel)))
        (a, hit, c, "files")
      } else {
        val a = writeData(toInsert, -1L, rowHint = Some(nIns),
          dirOverride = Some(attemptDir("data", readV)))
        (a, Seq.empty[String], Seq.empty[String], "insertsFromData")
      }
    toDelete.unpersist()
    toInsertRaw.unpersist()
    if (!(toInsert eq toInsertRaw)) toInsert.unpersist()

    val bucketRe = s"/$BucketCol=(\\d+)/".r
    def rule(e: CommitEntry): Option[String] =
      // id-reserve / id-sync are metadata-only marks (no files, no
      // schema change) — they commute with every rewrite; our own
      // reservation above is one of them
      if (!Set("append", "merge", "id-reserve", "id-sync")(e.mode))
        Some("only blind appends, bucket-disjoint merges, and identity " +
          "marks commute")
      else if (e.schemaJson != mySchemaJson) Some("schema changed")
      else if (e.renames.nonEmpty) Some("column rename")
      else if (e.dvAdds.nonEmpty || e.dvRemoves.nonEmpty)
        Some("deletion vectors touched")
      else (e.adds ++ e.removes).iterator.flatMap { f =>
        bucketRe.findFirstMatchIn(f) match {
          case Some(m) if !affected.contains(m.group(1).toLong) => None
          case Some(m) => Some(s"bucket ${m.group(1)} overlaps")
          case None => Some(s"unbucketed file $f")
        }
      }.nextOption()
    publish(readV, rule)(CommitEntry(_, "merge", System.currentTimeMillis(),
      mySchemaJson, adds, removed, hasChanges = true,
      bucketSpec = bucketSpec, changeFiles = chg,
      changesMode = changesMode))
    (nIns, nDel)
  }

  /** MERGE with UPDATE-matched semantics (the Delta
    * `whenMatchedUpdate` / `whenNotMatchedInsertAll` pair; [[merge]]
    * is the reference's delete-matched variant): source rows whose PK
    * exists in the target REPLACE the matched rows' non-key columns,
    * source rows with absent PKs insert, unmatched target rows stay.
    * The change feed records the Delta story — update_preimage /
    * update_postimage per matched row, insert per new row. Replay of
    * the same source is NOT idempotent for updates by design (matches
    * Delta: the postimage re-publishes); idempotent writers pair this
    * with [[lastTxnVersion]] txn markers like every other commit.
    * The source must be PK-unique (Delta raises on multiple matches;
    * here duplicate source rows would each land) — CDC batches are,
    * by construction.
    *
    * Scale: both anti/semi probes key on the PK — one co-partitioned
    * shuffle; the rewrite is the same copy-on-write as [[merge]]
    * (bucket-scoped on bucketed tables via the same delete-then-write
    * path would apply; this variant rewrites the live set, the right
    * call for wide-update CDC batches). Deltas stay batch-sized.
    */
  def mergeUpdate(rawSource: DataFrame, pks: Seq[String]): (Long, Long) = {
    val (nUpd, nIns, _) = mergeUpsert(rawSource, pks, deleteUnmatched = false)
    (nUpd, nIns)
  }

  /** The body of [[mergeUpdate]] and [[mergeSync]]: matched rows take
    * the source payload, absent rows insert, and `deleteUnmatched`
    * adds mergeSync's third clause. Identity: matched rows KEEP their
    * ids (the update replaces only non-key payload — ids are immutable
    * once assigned, the Delta contract), inserts generate from the
    * high water. Caller-supplied ids are refused even BY DEFAULT: the
    * merge verbs' insert side always generates.
    */
  private def mergeUpsert(rawSource: DataFrame, pks: Seq[String],
      deleteUnmatched: Boolean): (Long, Long, Long) = withCommitPlanning {
    val verb = if (deleteUnmatched) "mergeSync" else "mergeUpdate"
    requireNotAppendOnly(verb)
    identitySpec.foreach { spec =>
      require(!pks.contains(spec.name),
        s"cannot merge on GENERATED AS IDENTITY column " +
          s"'${spec.name}' of $path: incoming rows can never supply it")
      require(!rawSource.columns.contains(spec.name),
        s"GENERATED AS IDENTITY column '${spec.name}' cannot be " +
          s"user-supplied to $verb (matched rows keep their ids; " +
          "inserts generate)")
    }
    // generated columns compute-if-absent on this insert/update
    // surface too (consistency with every other data-carrying verb)
    val source = withGenerated(rawSource)
    requireSchemaMatch(source, exceptIdentity = true)
    val readV = latestVersion
    val target = snapshot(readV)
    val srcKeys = source.select(pks.map(col): _*).distinct()
    val pre = target.join(srcKeys, pks, "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // target rows NOT matched by any source key: untouched by
    // mergeUpdate, deleted by mergeSync's third clause
    val unmatched = target.join(srcKeys, pks, "left_anti")
    val dropped = if (!deleteUnmatched) None else Some(unmatched
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the postimage re-attaches the target's id by PK (1:1 — both
    // sides PK-unique per the verb's contract), so an updated row's
    // id survives the rewrite bit-for-bit
    val postRaw = identitySpec match {
      case Some(spec) =>
        source.join(target.select((pks :+ spec.name).map(col): _*),
          pks, "inner")
      case None =>
        source.join(target.select(pks.map(col): _*), pks, "left_semi")
    }
    val post = postRaw.select(target.columns.map(col).toSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val insertsRaw = source.join(target.select(pks.map(col): _*), pks,
      "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUpd = post.count()
    val nIns = insertsRaw.count()
    val nDel = dropped.fold(0L)(_.count())
    val (inserts, idHw) = identitySpec match {
      case Some(spec) if nIns > 0 =>
        val base = identityHighWater.getOrElse(spec.start - spec.step)
        val (stamp, hw) = assignIdentityFrom(insertsRaw, spec, base,
          expectN = Some(nIns))
        (stamp.select(target.columns.map(col).toSeq: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          Some(hw))
      case Some(spec) =>
        // zero inserts on an identity table: insertsRaw is empty but
        // still lacks the identity column — conform it so the
        // newData/changes unions resolve (nothing to stamp, no HW move)
        (insertsRaw.withColumn(spec.name, lit(null).cast("long"))
          .select(target.columns.map(col).toSeq: _*), None)
      case None => (insertsRaw, None)
    }
    val v = readV + 1
    val newData = (if (deleteUnmatched) post
      else unmatched.unionByName(post)).unionByName(inserts)
    val upserts = pre.withColumn(ChangeType, lit("update_preimage"))
      .unionByName(post.withColumn(ChangeType, lit("update_postimage")))
      .unionByName(inserts.withColumn(ChangeType, lit("insert")))
    val changes = dropped.fold(upserts)(d =>
      upserts.unionByName(d.withColumn(ChangeType, lit("delete"))))
    val (adds, chg) = inParallel(
      writeData(newData, v),
      writeChanges(changes, v, rowHint = Some(2 * nUpd + nIns + nDel)))
    publish(readV)(CommitEntry(_,
      if (deleteUnmatched) "merge-sync" else "merge-update",
      System.currentTimeMillis(), target.schema.json, adds,
      liveFiles(readV), hasChanges = true, bucketSpec = bucketSpec,
      changeFiles = chg, dvRemoves = liveDvFiles(readV),
      identityHighWater = idHw))
    pre.unpersist(); post.unpersist(); insertsRaw.unpersist()
    dropped.foreach(_.unpersist())
    if (!(inserts eq insertsRaw)) inserts.unpersist()
    (nUpd, nIns, nDel)
  }

  /** MERGE with all THREE Delta clauses (Delta 2.3+): whenMatched
    * UPDATE ∪ whenNotMatched INSERT ∪ `whenNotMatchedBySource` DELETE —
    * the dimension-mirror sync (make the target equal the source,
    * keyed on `pks`): matched rows take the source payload, absent
    * rows insert, and target rows the source no longer carries are
    * deleted. [[mergeUpdate]] is the two-clause prefix of this verb;
    * the third clause is what a replicate-a-dimension pipeline needs
    * (VERDICT r12 #6).
    *
    * CDF: update_preimage/update_postimage for matched rows, insert
    * for absent rows, delete PREIMAGES for the by-source deletes — so
    * a downstream CDC consumer can replay the sync exactly. Identity /
    * row tracking: matched rows KEEP their ids bit-for-bit (the q296
    * witness extends across this verb), inserts generate from the high
    * water, deletes never free ids. DV-aware by construction: the
    * snapshot read applies live deletion vectors and the commit
    * retires them with the rewrite (same discipline as mergeUpdate).
    *
    * Scale: two anti-joins + one semi/inner join keyed on `pks` (all
    * shuffle-or-broadcast on batch-vs-table key frames), one full
    * rewrite write — the same COW envelope as UPDATE; at 100 TB the
    * bucketed layout bounds the rewrite exactly as it does for merge.
    * Returns (nUpdated, nInserted, nDeleted).
    */
  def mergeSync(rawSource: DataFrame,
      pks: Seq[String]): (Long, Long, Long) =
    mergeUpsert(rawSource, pks, deleteUnmatched = true)

  /** In-place column update of rows matching `pred` (S5 — the watermark
    * bump). Records Delta-style update_preimage/update_postimage change
    * rows (common_types.py:70-77). Internal bookkeeping tables whose
    * change feed nobody consumes (the watermark store) pass
    * `trackChanges = false` to skip the change-file write — the commit
    * is still versioned in the log, it just publishes no CDF rows,
    * halving the Spark jobs of the hot CDC loop's bump.
    */
  def update(pred: Column, assignments: Map[String, Column],
      trackChanges: Boolean = true): Unit = withCommitPlanning {
    requireNotAppendOnly("update")
    // identity values are immutable once assigned (both ALWAYS and
    // BY DEFAULT — Delta refuses UPDATE SET on identity columns)
    identitySpec.foreach(spec => require(!assignments.contains(spec.name),
      s"GENERATED AS IDENTITY column '${spec.name}' of $path cannot " +
        "be updated"))
    val readV = latestVersion
    val target = snapshot(readV)
    // null-safe predicate split: a NULL predicate means "not matched"
    // (Delta UPDATE semantics) — a plain `!pred` filter would drop
    // those rows from both branches and lose data.
    val matched = coalesce(pred, lit(false))
    val pre = target.filter(matched)
    val post = assignments.foldLeft(pre) { case (d, (c, e)) => d.withColumn(c, e) }
    val untouched = target.filter(!matched)
    val newData = untouched.unionByName(post)
    val v = readV + 1
    val removed = liveFiles(v - 1)
    val (adds, chg) =
      if (trackChanges) {
        val changes = pre.withColumn(ChangeType, lit("update_preimage"))
          .unionByName(post.withColumn(ChangeType, lit("update_postimage")))
        inParallel(writeData(newData, v), writeChanges(changes, v))
      } else (writeData(newData, v), Seq.empty[String])
    publish(v - 1)(CommitEntry(_, "update", System.currentTimeMillis(),
      target.schema.json, adds, removed, hasChanges = trackChanges,
      bucketSpec = bucketSpec, changeFiles = chg,
      dvRemoves = liveDvFiles(v - 1)))
  }

  /** Physical GC of files no longer referenced by the live set — MUST
    * NOT create a logical version (S7, test_datalake.py:229-269).
    * Retains change files (they back `readChanges`).
    *
    * Files younger than `retainMillis` are kept even when unreferenced
    * (Delta's VACUUM retention threshold): `appendConcurrent` writes
    * its data files BEFORE publishing the log entry, so a concurrent
    * vacuum with no retention window could delete an in-flight
    * append's files and let its entry publish referencing nothing.
    * The DEFAULT is therefore a Delta-parity 7-day window — safe under
    * concurrent writers with a week of slack. `retainMillis = 0` is
    * the explicit opt-in for single-writer lifecycles
    * (compact-then-vacuum in the same job) that want immediate
    * reclamation and KNOW no write is in flight.
    */
  val DefaultVacuumRetainMillis: Long = 7L * 24 * 60 * 60 * 1000

  def vacuum(retainMillis: Long = DefaultVacuumRetainMillis): Unit =
    reclaimableFiles(retainMillis).foreach(p =>
      Files.delete(Paths.get(p)))

  /** VACUUM ... DRY RUN (Delta's audit verb): the exact file list
    * [[vacuum]] would reclaim at this retention, WITHOUT deleting
    * anything — the look-before-an-irreversible-delete step every
    * retention runbook wants (vacuum is the one MiniLake operation
    * that cannot be undone by time travel: it removes bytes, not log
    * state). Metadata + one directory walk, no data read.
    */
  def vacuumDryRun(
      retainMillis: Long = DefaultVacuumRetainMillis): Seq[String] =
    reclaimableFiles(retainMillis)

  private def reclaimableFiles(retainMillis: Long): Seq[String] = {
    val st = state(latestVersion)
    val live = st.liveFiles.toSet
    // data files of insert-only commits double as that commit's change
    // feed (changesMode=insertsFromData) — they must survive vacuum
    // even after leaving the live set, exactly like dedicated change
    // files do.
    val changeBacked = st.changeBacked.map(_.file).toSet
    // entry-listed change files back readChanges until the retention
    // horizon prunes their refs from a checkpoint (then they age out
    // here); change files NOT listed by any retained ref are either
    // past-retention or debris from a commit attempt that lost its
    // publish race (each attempt writes its own w-<uuid> dir)
    val listedChanges = st.listedChanges.map(_.file).toSet
    // live deletion vectors are part of the current table state;
    // retired DVs (materialized/rewritten away) age out like data files
    val liveDvs = st.liveDvFiles.toSet
    val protectedFiles = live ++ changeBacked ++ listedChanges ++ liveDvs
    val cutoff = System.currentTimeMillis() - retainMillis
    Seq("data", "changes", "dv").map(root.resolve).flatMap { d =>
      if (!Files.isDirectory(d)) Seq.empty[String]
      else {
        // legacy layout: entries without a changeFiles list own their
        // whole changes/v=<v> directory — leave those subtrees alone
        val legacyDirs = st.legacyVersions
          .map(v => root.resolve(s"changes/v=$v")).toSet
        usingStream(Files.walk(d))(_
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .filterNot(p => protectedFiles.contains(p.toString))
          .filterNot(p => legacyDirs.exists(p.startsWith))
          .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
          .map(_.toString).toSeq)
      }
    }
  }

  /** DELETE FROM ... WHERE pred — Delta DELETE semantics: rows whose
    * predicate evaluates NULL are KEPT (same null-safe split as
    * [[update]]); copy-on-write rewrite of the live set; the change
    * feed publishes one `delete` preimage per removed row. Returns the
    * number of rows deleted. A zero-match delete still commits a
    * logical version (predictable versioning for callers that bump
    * watermarks on every run) but publishes no change rows.
    *
    * Scale: the rewrite is the same one-pass
    * filter-and-write-the-survivors plan [[update]] runs; on a
    * partitioned table the scan prunes to partitions the predicate can
    * touch, and the delete preimages are batch-sized, never
    * table-sized. PK-shaped deletes on bucketed tables should go
    * through [[merge]], which rewrites only the affected buckets.
    */
  def delete(pred: Column): Long = withCommitPlanning {
    requireNotAppendOnly("delete")
    val readV = latestVersion
    val target = snapshot(readV)
    val matched = coalesce(pred, lit(false))
    val doomed = target.filter(matched)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDel = doomed.count()
    val v = readV + 1
    if (nDel == 0) {
      publish(v - 1)(CommitEntry(_, "delete", System.currentTimeMillis(),
        target.schema.json, Seq.empty, Seq.empty, hasChanges = false,
        bucketSpec = bucketSpec))
    } else {
      val kept = target.filter(!matched)
      val (adds, chg) = inParallel(
        writeData(kept, v),
        writeChanges(doomed.withColumn(ChangeType, lit("delete")), v,
          rowHint = Some(nDel)))
      publish(v - 1)(CommitEntry(_, "delete", System.currentTimeMillis(),
        target.schema.json, adds, liveFiles(v - 1), hasChanges = true,
        bucketSpec = bucketSpec, changeFiles = chg,
        dvRemoves = liveDvFiles(v - 1)))
    }
    doomed.unpersist()
    nDel
  }

  /** Merge-on-read DELETE — the deletion-vector path (Delta DVs /
    * Iceberg positional deletes): instead of rewriting the live set,
    * record the doomed rows' (physical file, row position) pairs in a
    * sidecar parquet and let every read anti-join them away via the
    * `_metadata` struct. Same observable semantics as [[delete]] —
    * NULL predicate keeps the row, CDF publishes one `delete` preimage
    * per removed row, zero-match still commits a version — but the
    * write cost is O(deleted rows), not O(table).
    *
    * This is THE delete a 100 TB table wants: a copy-on-write of a
    * wide table to drop 0.1% of rows rewrites 100 TB; the DV commit
    * writes megabytes. The read-side tax is one broadcast anti-join
    * (DV side bounded by churn since the last materialize);
    * [[materializeDeletes]] or [[compactFiles]] folds the DVs back
    * into clean files when the vectors grow past taste. Time travel
    * honors DVs exactly: `snapshot(asOf)` applies the vectors live as
    * of that version, no more, no fewer.
    *
    * Safe under CONCURRENT writers — Delta's WriteSerializable conflict
    * rules on the DV path. The sidecar and the CDF preimages are
    * written ONCE against the snapshot at the read version; then
    * [[publish]] examines every winner committed since:
    *  - a blind append / create / identity reservation with an
    *    unchanged schema cannot invalidate recorded positions
    *    (positions are per-file and published files are immutable) —
    *    publish at the next version. WriteSerializable semantics: the
    *    winner's new rows are NOT re-evaluated against this delete's
    *    predicate (Delta draws the same line for DELETE vs blind
    *    append);
    *  - a DV delete whose sidecar targets a DISJOINT file set cannot
    *    overlap a position — stacked DVs compose — publish;
    *  - anything else (rewrites/removes, a DV delete sharing a target
    *    file — its positions might overlap ours and CDF would
    *    double-publish preimages — schema changes, renames, DV
    *    retirements) invalidates the snapshot this delete was
    *    computed from: ConcurrentModificationException, and the caller
    *    re-runs against fresh state, exactly Delta's
    *    ConcurrentDeleteDeleteException contract.
    * This delete's own target files are collected only when a DV
    * winner shows up, so an uncontended delete runs no extra job.
    */
  def deleteVectored(pred: Column): Long = withCommitPlanning {
    requireNotAppendOnly("deleteVectored")
    val readV = latestVersion
    val files = liveFiles(readV)
    if (files.isEmpty) 0L
    else {
      val sch = schemaAt(readV)
      // evaluate the predicate over the DV-applied snapshot (rows
      // already vectored out must not re-match), keeping the physical
      // position columns the sidecar needs
      val doomed = readFiles(files, readV, keepPos = true)
        .filter(coalesce(pred, lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDel = doomed.count()
      val v = readV + 1
      val (dvFiles, chg) =
        if (nDel == 0) (Seq.empty[String], Seq.empty[String])
        else {
          val dvDir = attemptDir("dv", v)
          inParallel(
            {
              doomed.select(col(DvFileCol), col(DvPosCol))
                .coalesce(filesFor(nDel)).write.parquet(dvDir.toString)
              parquetFilesIn(dvDir)
            },
            writeChanges(doomed.drop(DvFileCol, DvPosCol)
              .withColumn(ChangeType, lit("delete")), v,
              rowHint = Some(nDel)))
        }
      doomed.unpersist()
      lazy val myTargets = dvTargets(dvFiles)
      def rule(e: CommitEntry): Option[String] =
        if (e.removes.nonEmpty || e.dvRemoves.nonEmpty ||
            e.renames.nonEmpty || e.schemaJson != sch.json)
          Some("a rewrite, deletion-vector retirement or schema change " +
            "moved the rows this delete positioned")
        else if (e.dvAdds.nonEmpty &&
            dvTargets(e.dvAdds).intersect(myTargets).nonEmpty)
          Some("its deletion vector shares a target file with this one")
        else None
      publish(readV, rule)(CommitEntry(_, "delete-dv",
        System.currentTimeMillis(), sch.json, Seq.empty, Seq.empty,
        hasChanges = nDel > 0, bucketSpec = bucketSpec,
        changeFiles = chg, dvAdds = dvFiles))
      nDel
    }
  }

  /** The data files a set of deletion-vector sidecars targets
    * (metadata-sized read of small sidecars).
    */
  private def dvTargets(sidecars: Seq[String]): Set[String] =
    if (sidecars.isEmpty) Set.empty
    else spark.read.schema(MiniLake.DvSchema).parquet(sidecars: _*)
      .select(col(DvFileCol)).distinct().collect()
      .map(r => MiniLake.localPath(r.getString(0))).toSet

  /** Fold live deletion vectors into clean data files (Delta's
    * REORG TABLE ... APPLY (PURGE)): one rewrite of the live set with
    * the DVs applied, after which reads are plain scans again. No
    * logical row changes — the commit publishes no CDF rows (the
    * deletes already published at their [[deleteVectored]] versions).
    * No-op when nothing is vectored.
    */
  def materializeDeletes(): Unit = withCommitPlanning {
    val v = nextVersion
    val dvs = liveDvFiles(v - 1)
    if (dvs.nonEmpty) {
      val prior = liveFiles(v - 1)
      val sch = schema
      val data = readFiles(prior, v - 1)
      val n = data.count()
      val adds = writeData(data, v, rowHint = Some(n), checked = false)
      publish(v - 1)(CommitEntry(_, "materialize", System.currentTimeMillis(),
        sch.json, adds, prior, hasChanges = false,
        bucketSpec = bucketSpec, dvRemoves = dvs))
    }
  }

  /** RESTORE TABLE ... TO VERSION AS OF v — Delta RESTORE semantics: a
    * NEW commit (history is preserved, nothing is rewound) whose live
    * set equals `snapshot(v)`. The change feed records the row-level
    * story: rows only in the current snapshot leave as `delete`, rows
    * only in the target snapshot return as `insert` — multiset
    * semantics via exceptAll, so duplicate rows restore with correct
    * multiplicity. Restoring to the current state commits a version
    * with empty changes (same audit trail Delta leaves).
    *
    * Scale: two exceptAll anti-joins over full-row keys — one shuffle
    * each, both batch-bounded by how much actually changed since `v`
    * is typically << table size under CDC-style churn; the data write
    * itself re-publishes the as-of live set without decoding it
    * (file-level log replay serves the read).
    */
  def restoreTo(v: Long): Unit = withCommitPlanning {
    requireNotAppendOnly("restoreTo")
    val latest = latestVersion
    val st = state(latest)
    val curSchema = schema
    // RESTORE works ACROSS renames: the target snapshot's old names
    // fold FORWARD through every rename committed after v, so the
    // restored table carries the CURRENT schema names with the as-of
    // data (Delta RESTORE via column mapping — logical names travel,
    // the data is pinned by identity, not name).
    val chain = renameChain(latest).filter(_._1 > v)
    val tgtRenamed = chain.foldLeft(snapshot(v)) {
      case (d, (_, f, t)) => d.withColumnRenamed(f, t)
    }
    // two explicit refusals, both "the restored values would have no
    // legal home under the current schema":
    //  - a column dropped since v (its restored values would silently
    //    vanish, or worse resurrect the retired name)
    val lost = tgtRenamed.columns.filterNot(curSchema.fieldNames.toSet)
    require(lost.isEmpty,
      s"RESTORE to $v would restore column(s) ${lost.mkString(", ")} " +
        s"dropped since; drop the data explicitly or restore to a " +
        "version at or after the drop")
    //  - a column REBORN since v (the current name's identity was born
    //    after v — writing the old incarnation's values into it is
    //    exactly the resurrection the tombstones exist to prevent)
    val rebornSince = st.reborn.collect {
      case (c, rv) if rv > v && tgtRenamed.columns.contains(c) => c
    }
    require(rebornSince.isEmpty,
      s"RESTORE to $v would write the dropped incarnation of " +
        s"${rebornSince.mkString(", ")} into its reborn successor; " +
        "restore to a version at or after the re-add")
    // columns ADDED since v (mergeSchema widening) null-fill — the
    // restore is then a well-typed multiset diff under one schema
    val cur = snapshot(latest)
    val tgt = MiniLake.conformTo(tgtRenamed, curSchema)
    val changes = cur.exceptAll(tgt).withColumn(ChangeType, lit("delete"))
      .unionByName(tgt.exceptAll(cur).withColumn(ChangeType, lit("insert")))
    commitWithChanges(latest, tgt, mode = "restore", changes = changes)
  }

  /** GENERATE symlink_format_manifest (Delta's Presto/Trino/Athena
    * interop verb): publish the CURRENT live file list as newline-
    * separated absolute paths under `_symlink_format_manifest/` — one
    * manifest per partition directory for value-partitioned tables
    * (external engines prune on the manifest directory structure),
    * one flat `manifest` otherwise. Metadata-only: no data file is
    * read or written; the manifest is a SNAPSHOT (like Delta's, it
    * must be re-generated after writes — callers that need freshness
    * re-run it; no logical commit is created).
    */
  def generateSymlinkManifest(): Unit = {
    require(exists, s"table $path does not exist")
    val manifestRoot = root.resolve("_symlink_format_manifest")
    MiniLake.deleteRecursively(manifestRoot.toString)
    val live = liveFiles(latestVersion)
    val byPart: Map[Seq[String], Seq[String]] = live.groupBy { f =>
      f.split('/').iterator.filter(_.startsWith(PartPrefix)).map { seg =>
        // external layout uses plain <col>=<value> dir names
        seg.substring(PartPrefix.length)
      }.toSeq
    }
    byPart.foreach { case (partSegs, files) =>
      val dir = partSegs.foldLeft(manifestRoot)(_ resolve _)
      Files.createDirectories(dir)
      Files.write(dir.resolve("manifest"),
        files.sorted.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    if (byPart.isEmpty) { // empty table: an empty flat manifest
      Files.createDirectories(manifestRoot)
      Files.write(manifestRoot.resolve("manifest"), Array.empty[Byte])
    }
  }

  /** Incoming columns must match the table's in name, type and order;
    * the ALWAYS-generated identity column, which a write never
    * carries, is left out when `exceptIdentity`. A nested field may be
    * stricter than the table's (non-nullable where the table records
    * nullable — the table's schema as read back from parquet is
    * nullable at every depth), never looser.
    */
  private def requireSchemaMatch(df: DataFrame,
      exceptIdentity: Boolean = false): Unit =
    if (exists) {
      val skip = if (exceptIdentity) identitySpec.map(_.name) else None
      val expected = schema.fields.filterNot(f => skip.contains(f.name)).toSeq
      val got = df.schema.fields.toSeq
      def show(fs: Seq[StructField]) = fs.map(f => (f.name, f.dataType))
      require(expected.length == got.length &&
        expected.zip(got).forall { case (e, g) =>
          e.name == g.name && MiniLake.writableAs(g.dataType, e.dataType)
        },
        s"schema mismatch for $path" +
          skip.fold("")(n => s" (identity column '$n' excluded)") +
          s":\n expected ${show(expected)}\n got      ${show(got)}")
    }
}

object MiniLake {
  /** Values of type `got` can be written into a column recorded as
    * `want`: the same type, with every nested field, array element and
    * map value at most as nullable as the recorded one.
    */
  private[lake] def writableAs(got: DataType, want: DataType): Boolean =
    (got, want) match {
      case (g: StructType, w: StructType) =>
        g.length == w.length && g.fields.zip(w.fields).forall {
          case (gf, wf) => gf.name == wf.name &&
            (wf.nullable || !gf.nullable) &&
            writableAs(gf.dataType, wf.dataType)
        }
      case (g: ArrayType, w: ArrayType) =>
        (w.containsNull || !g.containsNull) &&
          writableAs(g.elementType, w.elementType)
      case (g: MapType, w: MapType) =>
        (w.valueContainsNull || !g.valueContainsNull) &&
          writableAs(g.keyType, w.keyType) &&
          writableAs(g.valueType, w.valueType)
      case _ => got == want
    }

  /** Sizing target for writes whose row count is known up front. */
  private[lake] val RowsPerFile: Long = 1L << 20

  /** Hadoop conf template for driver-side parquet writes: defaults
    * parsed ONCE per JVM (the property read forces the lazy XML load),
    * then copy-constructed per write — the copy clones the loaded
    * Properties and never re-touches the XML resources.
    */
  private[lake] lazy val hadoopConfTemplate
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.get("io.file.buffer.size") // force the default-resource load now
    c
  }

  /** Prepared Hadoop conf per parquet message type for the driver-side
    * tiny-file writer: the per-file `new Configuration(template)` copy
    * (a full Properties clone) plus `GroupWriteSupport.setSchema` were
    * the largest remaining per-commit costs after the template fix
    * (q232 r14 profiler: Configuration.<init> / ConcurrentHashMap.putAll
    * under writeLocalParquet). The prepared conf is never mutated after
    * construction — writers only read it — so one instance per schema
    * serves every file and every thread.
    */
  private val parquetConfCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.hadoop.conf.Configuration]

  private[lake] def parquetConfFor(
      msg: org.apache.parquet.schema.MessageType)
      : org.apache.hadoop.conf.Configuration =
    parquetConfCache.getOrElseUpdate(msg.toString, {
      val c = new org.apache.hadoop.conf.Configuration(hadoopConfTemplate)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, c)
      c
    })

  /** JVM-shared immutable-log caches, keyed by (canonical table path,
    * version). Log entries and checkpoints are write-once (hard-link
    * publish closes races), so a parsed entry is valid for EVERY
    * instance of the table — without sharing, each of N racing writer
    * instances re-reads and re-parses every entry the other N−1 wrote
    * (the q232 r14 profiler's readEntryUncached/readCheckpoint Jackson
    * frames). Validity across an out-of-band delete/recreate of the
    * same path rides [[lineageKeys]]: the fileKey (device, inode) of
    * the log's first entry, checked at every instance's initial full
    * listing and on the staleness probe — a recreated log has a fresh
    * inode, which purges the path's shared state. Bounded by a safety
    * valve (clear-all on overflow): the caches are an optimization,
    * never a source of truth.
    */
  /** A parsed document plus the identity of the file it came from; a
    * shared-cache hit re-validates with ONE stat call (vs the read +
    * Jackson parse it replaces), so disk stays the source of truth at
    * the same granularity a fresh instance's cold read would have —
    * out-of-band corruption/replacement (the corrupt-checkpoint
    * fallback spec) is seen exactly as before sharing.
    */
  private final case class CachedDoc[T](doc: T, fileKey: Object,
      size: Long, mtime: java.nio.file.attribute.FileTime)

  private def docAttrs(file: Path)
      : Option[java.nio.file.attribute.BasicFileAttributes] =
    try Some(Files.readAttributes(file,
      classOf[java.nio.file.attribute.BasicFileAttributes]))
    catch { case _: Exception => None }

  private def sharedGet[T](
      cache: scala.collection.concurrent.TrieMap[(String, Long), CachedDoc[T]],
      key: (String, Long), file: Path): Option[T] =
    cache.get(key).flatMap { cd =>
      val ok = docAttrs(file).exists(a =>
        a.fileKey() == cd.fileKey && a.size() == cd.size &&
          a.lastModifiedTime() == cd.mtime)
      if (ok) Some(cd.doc) else { cache.remove(key); None }
    }

  private def sharedPut[T](
      cache: scala.collection.concurrent.TrieMap[(String, Long), CachedDoc[T]],
      maxEntries: Int, key: (String, Long), file: Path, doc: T): Unit =
    docAttrs(file).foreach { a =>
      if (cache.size > maxEntries) cache.clear() // safety valve
      cache.putIfAbsent(key,
        CachedDoc(doc, a.fileKey(), a.size(), a.lastModifiedTime()))
    }

  private val sharedEntryCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), CachedDoc[CommitEntry]]
  private val sharedCkptCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), CachedDoc[FoldState]]
  private val lineageKeys =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Newest version THIS JVM has successfully published per table:
    * racing writer instances catching up after a burst otherwise pay
    * one `Files.exists` probe per version per instance (the q232 r14
    * profiler's UnixNativeDispatcher.exists0 frames). Versions at or
    * below the watermark were committed by this process, so the
    * contiguity invariant lets an instance adopt them without probing;
    * out-of-band deletion detection is unchanged (the staleness probe
    * on the cached range's newest entry purges this too).
    */
  private val sharedLatest =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[lake] def sharedLatestGet(path: String): Option[Long] =
    sharedLatest.get(path)

  private[lake] def sharedLatestAdvance(path: String, v: Long): Unit =
    sharedLatest.updateWith(path) {
      case Some(x) if x >= v => Some(x)
      case _ => Some(v)
    }

  private def purgeShared(path: String): Unit = {
    sharedEntryCache.keysIterator.filter(_._1 == path).toList
      .foreach(sharedEntryCache.remove)
    sharedCkptCache.keysIterator.filter(_._1 == path).toList
      .foreach(sharedCkptCache.remove)
    sharedLatest.remove(path)
    lineageKeys.remove(path)
  }

  private[lake] def sharedEntryGet(path: String, v: Long,
      file: Path): Option[CommitEntry] =
    sharedGet(sharedEntryCache, (path, v), file)

  private[lake] def sharedEntryPut(path: String, v: Long, file: Path,
      e: CommitEntry): Unit =
    sharedPut(sharedEntryCache, 200000, (path, v), file, e)

  private[lake] def sharedCkptGet(path: String, v: Long,
      manifest: Path): Option[FoldState] =
    sharedGet(sharedCkptCache, (path, v), manifest)

  private[lake] def sharedCkptPut(path: String, v: Long, manifest: Path,
      st: FoldState): Unit =
    sharedPut(sharedCkptCache, 4096, (path, v), manifest, st)

  /** Validate (and on first sight, record) the log lineage for `path`
    * from its first entry's fileKey; purge the shared caches when the
    * identity changed or cannot be read.
    */
  private[lake] def validateLineage(path: String,
      firstEntry: Path): Unit = {
    val key =
      try Files.readAttributes(firstEntry,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      catch { case _: Exception => null }
    if (key == null) purgeShared(path)
    else lineageKeys.get(path) match {
      case Some(k) if k == key => ()
      case Some(_) =>
        purgeShared(path)
        lineageKeys.put(path, key)
      case None => lineageKeys.put(path, key)
    }
  }

  private[lake] def purgeSharedFor(path: String): Unit = purgeShared(path)

  /** Row bound for the driver-side tiny-commit write path: above this
    * a batch is data, not metadata, and belongs to the distributed
    * writer.
    */
  private[lake] val MaxLocalFastPathRows: Int = 10000

  /** Caps for the stats-gated driver-write fast path (the non-
    * LocalRelation arm of `localBatchRows`): a plan estimated under
    * [[MaxDriverWriteBytes]] (or row-counted under
    * [[MaxDriverWriteRows]]) collects in one job and writes driver-
    * side. The row cap is deliberately far below [[RowsPerFile]] so
    * the single driver file can never diverge from the file count the
    * rowHint path (`filesFor`) would have produced, and small enough
    * that the serial driver encode stays well under the distributed
    * write it replaces (~200k simple-typed rows ≈ tens of ms).
    */
  private[lake] val MaxDriverWriteRows: Int = 200000
  private[lake] val MaxDriverWriteBytes: Long = 8L << 20

  /** Test seam for commit timestamps: the monotonicity clamp at the
    * writeEntry funnel is only observable under a skewed clock, so
    * specs inject one here; production always reads the wall clock.
    */
  private[lake] var clockForTests: Option[() => Long] = None

  /** Partition values the driver-write fast path may place in a
    * directory name verbatim — exactly the characters Spark's
    * `partitionBy` writes unescaped, so the two paths produce
    * byte-identical directory trees. Anything else (escapes, nulls)
    * falls back to the distributed writer.
    */
  private[lake] val PathSafe = "[0-9A-Za-z._-]+".r

  /** Null-first ascending ordering over the named columns of
    * simply-typed Rows — the driver-write equivalent of
    * `sortWithinPartitions(cols)` (Spark sorts NULLS FIRST asc).
    */
  private[lake] def rowOrdering(sch: StructType,
      cols: Seq[String]): Ordering[Row] = {
    val idx = cols.map(sch.fieldIndex)
    val types = idx.map(i => sch.fields(i).dataType)
    new Ordering[Row] {
      override def compare(a: Row, b: Row): Int = {
        var k = 0
        while (k < idx.length) {
          val i = idx(k)
          val an = a.isNullAt(i); val bn = b.isNullAt(i)
          val c =
            if (an && bn) 0
            else if (an) -1
            else if (bn) 1
            else types(k) match {
              case org.apache.spark.sql.types.LongType =>
                java.lang.Long.compare(a.getLong(i), b.getLong(i))
              case org.apache.spark.sql.types.IntegerType =>
                Integer.compare(a.getInt(i), b.getInt(i))
              case org.apache.spark.sql.types.DoubleType =>
                java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
              case org.apache.spark.sql.types.BooleanType =>
                java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
              case _ => a.getString(i).compareTo(b.getString(i))
            }
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
  }

  /** Parquet message type for a simply-typed Spark schema (the
    * tiny-commit fast path). All fields OPTIONAL — Spark treats
    * parquet nullability as advisory on read, and OPTIONAL is always
    * safe to write.
    */
  private[lake] def parquetMessageType(
      sch: StructType): org.apache.parquet.schema.MessageType = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    sch.fields.foreach { f =>
      f.dataType match {
        case LongType    => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case DoubleType  => b.addField(Types.optional(DOUBLE).named(f.name))
        case BooleanType => b.addField(Types.optional(BOOLEAN).named(f.name))
        case StringType  => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case other => throw new IllegalArgumentException(
          s"unsupported fast-path type: $other")
      }
    }
    b.named("spark_schema")
  }

  /** A folded checkpoint lands every this-many commits (Delta writes
    * its parquet checkpoint every 10 — same cadence). Opening a table
    * then folds the checkpoint plus at most this many tail entries.
    */
  private[lake] val CheckpointInterval: Long = 10L

  /** File-list entries per checkpoint part file. At ~150 bytes/entry
    * this caps a part around a few MB — each part parses in bounded
    * memory and the part set is what a cluster-side reader would fan
    * out (Delta's multi-part checkpoint sizing intent).
    */
  private[lake] val DefaultCheckpointPartEntries: Int = 10000

  /** A change-feed file reference with the metadata retention pruning
    * needs: the commit that published it and that commit's timestamp.
    * Kept per file (not per version) so the fold stays a pure append
    * and checkpoints can prune by age without re-reading any entry.
    */
  private[lake] final case class ChangeRef(version: Long, ts: Long,
      file: String)

  /** Everything the log-derived accessors need, folded to one version:
    * the live data/DV file sets (insertion-ordered), active CHECK
    * constraints, the rename chain, dropped-name tombstones, per-app
    * txn high-water marks, the skipping stats, and vacuum's protected
    * file lists. This is the unit checkpoints serialize.
    *
    * `changeFloor` is the retention boundary: change-feed metadata for
    * commits BELOW it has been pruned from checkpoints (and the files
    * released to vacuum), so [[MiniLake.readChanges]] refuses version
    * ranges that dip under it — the Delta change-data retention
    * contract (fail clean, never silently partial). A from-scratch
    * fold has floor 0; only checkpoint pruning advances it.
    */
  private[lake] final case class FoldState(
      version: Long,
      schemaJson: String,
      liveFiles: Seq[String],
      liveDvFiles: Seq[String],
      constraints: Map[String, String],
      renames: Seq[(Long, String, String)],
      dropped: Set[String],
      txnMax: Map[String, Long],
      stats: Map[String, Map[String, (Long, Long)]],
      statsStr: Map[String, Map[String, (String, String)]],
      statsDbl: Map[String, Map[String, (Double, Double)]],
      changeBacked: Seq[ChangeRef],
      listedChanges: Seq[ChangeRef],
      legacyVersions: Seq[Long],
      changeFloor: Long,
      reborn: Map[String, Long],
      // physical schema of foreign eras (write version → schemaJson):
      // seeded by a clone entry for source eras whose files the clone
      // references but whose log entries it does not have — the only
      // eras [[readFiles]] cannot resolve from this table's own log
      eraSchemas: Map[Long, String] = Map.empty)

  private[lake] object FoldState {
    // Vector-backed sequences: the fold appends per commit, and a
    // List-backed `++` re-copies the whole prefix — O(n²) across a
    // long-lived table's log
    val empty: FoldState = FoldState(-1L, "", Vector.empty, Vector.empty,
      Map.empty, Seq.empty, Set.empty, Map.empty, Map.empty, Map.empty,
      Map.empty, Vector.empty, Vector.empty, Vector.empty, 0L, Map.empty,
      Map.empty)
  }

  /** The session's AQE setting as first observed OUTSIDE any commit —
    * the restore target for `withCommitPlanning`. Keyed per session so
    * multi-session processes (tests) don't cross-restore.
    */
  private val aqeDefaults =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  private[lake] def aqeSessionDefault(spark: SparkSession): String =
    aqeDefaults.computeIfAbsent(spark,
      s => s.conf.get("spark.sql.adaptive.enabled", "true"))

  /** String stats above this length are dropped rather than truncated
    * (a truncated max is not an upper bound; Delta rounds the last
    * code point up instead — dropping is simpler and only costs
    * skipping power on free-text columns nobody range-reads).
    */
  private[lake] val MaxStatsStringLen: Int = 64

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  val CommitTimestamp = "_commit_timestamp"
  val MetaColumns: Seq[String] = Seq(ChangeType, CommitVersion, CommitTimestamp)

  private val mapper = new ObjectMapper()

  /** Hash-bucket layout: rows land in pmod(xxhash64(pks), numBuckets). */
  final case class BucketSpec(pks: Seq[String], numBuckets: Int)

  val BucketCol = "_bucket"

  /** Deletion-vector sidecar columns: the doomed row's physical file
    * (as `_metadata.file_path` spells it at read time) and its
    * position within that file (`_metadata.row_index` — stable for a
    * written parquet file).
    */
  val DvFileCol = "_dv_file"
  val DvPosCol = "_dv_pos"
  private[lake] val DvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** `v=<N>` path segment of a data-file attempt directory. */
  private[lake] val VersionSeg = """/v=(\d+)/""".r

  /** Path-segment prefix for value-partition directories. */
  val PartPrefix = "_p_"

  /** Decode the %hh escaping `partitionBy` applies to special chars in
    * partition-value path segments (Hive path escaping).
    */
  private[lake] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** How a commit's change rows are stored: "files" = dedicated
    * parquet under changes/v=N (deletes/updates/mixed batches);
    * "insertsFromData" = the commit's added data files ARE the insert
    * changes (create/append/pure-insert merge) — read back with a
    * literal _change_type, halving the write work of ingest commits.
    */
  final case class CommitEntry(version: Long, mode: String, timestampMs: Long,
      schemaJson: String, adds: Seq[String], removes: Seq[String],
      hasChanges: Boolean, bucketSpec: Option[BucketSpec] = None,
      changesMode: String = "files",
      txn: Option[(String, Long)] = None,
      partitionCols: Seq[String] = Seq.empty,
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      changeFiles: Seq[String] = Seq.empty,
      statsStr: Map[String, Map[String, (String, String)]] = Map.empty,
      dvAdds: Seq[String] = Seq.empty,
      dvRemoves: Seq[String] = Seq.empty,
      constraints: Map[String, String] = Map.empty,
      renames: Map[String, String] = Map.empty,
      generatedCols: Seq[(String, String)] = Seq.empty,
      statsDbl: Map[String, Map[String, (Double, Double)]] = Map.empty,
      identitySpec: Option[IdentitySpec] = None,
      identityHighWater: Option[Long] = None,
      minReader: Int = 1,
      minWriter: Int = 1,
      addDefaults: Map[String, String] = Map.empty,
      // Clone-seeded column-mapping state (set only on mode="clone"
      // entries of column-mapped sources): the source's rename chain,
      // reborn map, tombstoned names, and the physical schema of each
      // source ERA that still owns live files. Versions are SOURCE
      // commit numbers — coherent in the clone's log because the clone
      // entry takes the source's clone-point version as its own, so
      // every source-era artifact sorts strictly before every
      // clone-era commit and the cloned file paths' v=N segments
      // resolve unchanged.
      cloneRenames: Seq[(Long, String, String)] = Seq.empty,
      cloneReborn: Map[String, Long] = Map.empty,
      cloneDropped: Seq[String] = Seq.empty,
      cloneEraSchemas: Map[Long, String] = Map.empty)

  /** The batch-sized deltas both MERGE verbs (`mergeDeltas`) compute against
    * `snapshot(readV)`: matched target rows to delete (persisted), the
    * target rows kept, and the insert rows whose key is absent after
    * the deletes (persisted, without the identity column — the caller
    * stamps ids on exactly the rows that insert).
    */
  private final case class MergeDeltas(target: DataFrame,
      delKeys: DataFrame, toDelete: DataFrame, kept: DataFrame,
      toInsertRaw: DataFrame, emptyDel: Boolean, emptyIns: Boolean)

  /** A verb's conflict rule for [[MiniLake.publish]]: `None` admits a
    * commit that landed after the verb's read version, `Some(why)`
    * refuses it.
    */
  private type Rule = CommitEntry => Option[String]

  /** Single-shot verbs compute their removes and change rows against
    * one snapshot, so any winner invalidates them.
    */
  private val NoWinner: Rule =
    _ => Some("this verb admits no concurrent commit")

  /** Metadata marks derived afresh from the claimed version (identity
    * reservations) commute with every winner.
    */
  private val AnyWinner: Rule = _ => None

  /** Lost hard-link races one publish tolerates before giving up. */
  private val MaxLostRaces = 32

  /** Highest reader protocol this build understands (Delta's
    * minReaderVersion contract): 1 = plain log, 2 = deletion vectors,
    * 3 = column mapping (rename/drop/re-add), 4 = initial-default
    * columns, 5 = type widening (pre-widen narrow-physical files
    * upcast at read under the wide schema). Tables whose log requires
    * more are REFUSED with an upgrade error instead of being read
    * wrongly — an old reader silently ignoring deletion vectors would
    * resurrect deleted rows; one ignoring addDefaults would read NULL
    * where the declared default belongs; one ignoring widening would
    * depend on its parquet reader happening to upcast. Tests force an
    * old reader via the session conf `graft.lake.maxSupportedReader`.
    */
  val SupportedReaderVersion = 5

  /** Highest writer protocol this build understands: 1 = plain log,
    * 2 = CHECK constraints / generated columns, 3 = identity columns,
    * 4 = append-only. Writer-affecting features are invisible to
    * readers, so a too-old WRITER is refused at commit time while
    * reads stay legal (Delta's minWriterVersion contract). Tests force
    * an old writer via `graft.lake.maxSupportedWriter`.
    */
  val SupportedWriterVersion = 4

  /** GENERATED AS IDENTITY column: `name` is assigned
    * `start, start+step, ...`, never reused. `always = true` (Delta's
    * GENERATED ALWAYS) refuses caller-supplied values; `always = false`
    * (GENERATED BY DEFAULT) accepts them and advances the high water
    * past the largest supplied value. */
  final case class IdentitySpec(name: String, start: Long, step: Long,
      always: Boolean = true)

  /** Smallest value of the identity sequence `{start + k·step, k ≥ 0}`
    * at or beyond `supplied` (in the direction of `step`), floored at
    * the current mark `cur` — the BY DEFAULT high-water advance and
    * SYNC IDENTITY's alignment rule: generated ids resume strictly
    * PAST every explicitly supplied value and stay ON the declared
    * grid. Monotone: never moves the mark backward (ids are never
    * reused, the same contract DELETE has).
    */
  private[lake] def advancePast(spec: IdentitySpec, cur: Long,
      supplied: Long): Long = {
    def ceilDiv(a: Long, b: Long): Long = Math.floorDiv(a + b - 1, b)
    if (spec.step > 0) {
      if (supplied <= cur) cur
      else {
        val k = math.max(0L, ceilDiv(supplied - spec.start, spec.step))
        math.max(cur, spec.start + k * spec.step)
      }
    } else {
      if (supplied >= cur) cur
      else {
        val k = math.max(0L, ceilDiv(spec.start - supplied, -spec.step))
        math.min(cur, spec.start + k * spec.step)
      }
    }
  }

  def apply(spark: SparkSession, path: String): MiniLake =
    new MiniLake(spark, path)

  /** Variant for metadata-sized tables: single-file commits. */
  def compact(spark: SparkSession, path: String): MiniLake =
    new MiniLake(spark, path, compact = true)

  /** Variant with hash-bucketed layout: merges rewrite only the
    * buckets their delete keys touch. The spec applies at create time
    * and is recovered from the log on reopen (plain `apply` works too).
    */
  def bucketed(spark: SparkSession, path: String, pks: Seq[String],
      numBuckets: Int): MiniLake =
    new MiniLake(spark, path,
      bucketSpecAtCreate = Some(BucketSpec(pks, numBuckets)))

  /** Variant with GENERATED ALWAYS AS columns (ordered name → SQL
    * expression), optionally value-partitioned — partitioning BY a
    * generated column is the Delta flagship: append raw batches, get
    * derived-date partition pruning for free.
    */
  def generated(spark: SparkSession, path: String,
      generatedCols: Seq[(String, String)],
      partitionCols: Seq[String] = Seq.empty): MiniLake =
    new MiniLake(spark, path, partitionColsAtCreate = partitionCols,
      generatedColsAtCreate = generatedCols)

  /** Variant with a GENERATED ALWAYS AS IDENTITY column (Delta
    * identity semantics): every insert through create/append/overwrite
    * assigns `start, start+step, ...` continuing from the table's
    * high-water mark; ids are never reused (DELETE does not free them)
    * and never user-supplied. The spec applies at create time and is
    * recovered from the log on reopen (plain `apply` works too).
    */
  def identity(spark: SparkSession, path: String, col: String,
      start: Long = 1L, step: Long = 1L): MiniLake = {
    // Delta requires a nonzero IDENTITY increment: step 0 would assign
    // `start` to every row and never advance the high-water mark,
    // silently violating the never-reused uniqueness contract
    require(step != 0L, s"identity column $col requires a nonzero step")
    new MiniLake(spark, path,
      identityColAtCreate = Some(IdentitySpec(col, start, step)))
  }

  /** Variant with a GENERATED BY DEFAULT AS IDENTITY column — the
    * migration-friendly sibling of [[identity]]: a batch OMITTING the
    * column gets generated values exactly like ALWAYS; a batch
    * CARRYING it keeps its explicit values (the backfill shape) and
    * the commit advances the high-water mark past the largest
    * supplied value, aligned to the declared `start`/`step` grid, so
    * generated ids can never collide with a backfill. Pair with
    * [[MiniLake!.syncIdentity]] to re-seat the mark from the data.
    */
  def identityByDefault(spark: SparkSession, path: String, col: String,
      start: Long = 1L, step: Long = 1L): MiniLake = {
    require(step != 0L, s"identity column $col requires a nonzero step")
    new MiniLake(spark, path,
      identityColAtCreate = Some(IdentitySpec(col, start, step,
        always = false)))
  }

  /** The engine-reserved row-tracking column name. */
  val RowIdCol = "_row_id"

  /** Reserved constraint-fold namespace for table properties. */
  private[lake] val PropPrefix = "prop:"

  /** The Delta append-only writer-feature property key. */
  val AppendOnlyProp = "delta.appendOnly"

  /** ROW TRACKING (Delta 3.x row lineage): every row carries a stable
    * `_row_id` assigned at first write and preserved across EVERY
    * rewrite — compaction, Z-order, materializeDeletes, UPDATE,
    * merge/mergeUpdate copy-on-write — so downstream incremental
    * consumers can join on row identity without PK assumptions.
    *
    * Design note: row tracking here IS an engine-reserved GENERATED
    * ALWAYS AS IDENTITY column. Stability is not a separate mechanism;
    * it follows from the identity contract every verb now obeys:
    *  - rewrites (compactFiles/compactZorder/materializeDeletes/
    *    restore) READ existing rows through the snapshot — the column
    *    travels with the row bytes and is never re-assigned;
    *  - update() refuses `_row_id` assignments; mergeUpdate re-attaches
    *    the target's ids to matched rows; merge's kept rows come from
    *    the files themselves;
    *  - only genuine inserts consume fresh ids (contiguous from the
    *    high water, reservation-backed under concurrency), and DELETE
    *    never frees one — ids are forever.
    * The column is part of the visible schema (Delta exposes it as a
    * metadata column; a reserved visible column keeps every read path
    * — CDF pre/postimages, time travel, clones — carrying lineage with
    * zero extra machinery). RowTrackingSpec pins stability across all
    * rewrite paths; gate q296 checksums the (pk ↔ _row_id) pairing
    * through a full lifecycle.
    */
  def rowTracked(spark: SparkSession, path: String): MiniLake =
    identity(spark, path, RowIdCol)

  /** Bucketed layout + GENERATED AS IDENTITY — the multi-writer MERGE
    * shape: [[MiniLake!.mergeConcurrent]] needs the bucket scope for
    * provably disjoint rewrites, and identity rides the same id-range
    * reservation [[MiniLake!.appendConcurrent]] uses.
    */
  def bucketedIdentity(spark: SparkSession, path: String,
      pks: Seq[String], numBuckets: Int, col: String,
      start: Long = 1L, step: Long = 1L): MiniLake = {
    require(step != 0L, s"identity column $col requires a nonzero step")
    new MiniLake(spark, path,
      bucketSpecAtCreate = Some(BucketSpec(pks, numBuckets)),
      identityColAtCreate = Some(IdentitySpec(col, start, step)))
  }

  /** Variant with value-partitioned layout (`_p_<col>=<value>` dirs):
    * `snapshotWhere` prunes partitions on the driver before any scan.
    * The spec applies at create time and is recovered from the log on
    * reopen (plain `apply` works too).
    */
  def partitioned(spark: SparkSession, path: String,
      cols: Seq[String]): MiniLake =
    new MiniLake(spark, path, partitionColsAtCreate = cols)

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose first commit REFERENCES the source's live data files
    * (and live deletion vectors) — zero bytes copied, metadata-only,
    * instant at any size. Reads equal the source's snapshot at clone
    * time; subsequent writes to either table diverge independently
    * (the clone's rewrites produce its own files under its own root).
    * The clone's vacuum only walks the clone's directory, so it can
    * never reclaim source files; vacuum on the SOURCE can invalidate
    * clones (the same documented hazard Delta shallow clones have) —
    * retention windows are the guard.
    *
    * The dev/test workflow this enables at 100 TB: clone prod, run the
    * migration/experiment against the clone, diff (q138), drop — all
    * without copying a byte of data.
    */
  def shallowClone(spark: SparkSession, srcPath: String,
      destPath: String): MiniLake =
    cloneTo(spark, srcPath, destPath, (f: String) => f,
      dvOverride = None)

  /** DEEP CLONE (Delta `CREATE TABLE ... CLONE src`, the default deep
    * form): a full, INDEPENDENT copy — every live data file's bytes
    * land under the destination root (source-era `v=N` path segments
    * preserved, so column-mapping-era resolution composes exactly as
    * in a shallow clone), live deletion-vector sidecars are rewritten
    * with their target paths re-rooted to the copied files, and the
    * clone entry re-keys the skipping stats to the copied paths. The
    * result shares NO bytes with the source: vacuum on the source can
    * never invalidate it (the shallow clone's documented hazard), and
    * divergence on either side is invisible to the other — the
    * backup / DR / environment-promotion verb (VERDICT r12 #7).
    *
    * Cost is the honest one: one byte-copy of the live set (no
    * decode/re-encode — file copies, not a rewrite), plus one bounded
    * read/rewrite of the DV sidecars (churn-sized, not table-sized).
    */
  def deepClone(spark: SparkSession, srcPath: String,
      destPath: String): MiniLake = {
    val srcRoot = Paths.get(srcPath)
    val destRoot = Paths.get(destPath)
    def mapped(f: String): String =
      destRoot.resolve(srcRoot.relativize(Paths.get(f))).toString
    val src = new MiniLake(spark, srcPath)
    require(src.exists, s"source table $srcPath does not exist")
    val v = src.latestVersion
    src.liveFiles(v).foreach { f =>
      val to = Paths.get(mapped(f))
      Files.createDirectories(to.getParent)
      Files.copy(Paths.get(f), to)
    }
    // live DV sidecars reference their target data files BY PATH in
    // the rows: re-root those references to the copied files (a plain
    // byte copy would leave the clone's vectors pointing at the
    // source, re-coupling what deep clone exists to decouple)
    val dvs = src.liveDvFiles(v)
    val dvAdds =
      if (dvs.isEmpty) Seq.empty[String]
      else {
        val dvDir = destRoot.resolve(s"dv/v=$v/w-clone")
        // sidecar rows store the target as `_metadata.file_path` spells
        // it — a file: URI — so re-root by literal substring replace of
        // the source root wherever it sits inside that URI
        spark.read.parquet(dvs: _*)
          .withColumn(DvFileCol, expr(
            s"replace($DvFileCol, '${srcRoot.toString}', " +
              s"'${destRoot.toString}')"))
          .coalesce(1).write.parquet(dvDir.toString)
        parquetFilesIn(dvDir)
      }
    cloneTo(spark, srcPath, destPath, mapped, dvOverride = Some(dvAdds))
  }

  private def cloneTo(spark: SparkSession, srcPath: String,
      destPath: String, mapFile: String => String,
      dvOverride: Option[Seq[String]]): MiniLake = {
    val src = new MiniLake(spark, srcPath)
    require(src.exists, s"source table $srcPath does not exist")
    val dest = new MiniLake(spark, destPath)
    require(!dest.exists, s"destination $destPath already exists")
    val v = src.latestVersion
    val srcState = src.state(v)
    val entry = src.readEntry(v)
    val live = src.liveFiles(v).toSet
    // carry the source's skipping index for the referenced files —
    // re-reading 100 TB worth of footers to rebuild it would defeat
    // the metadata-only point. A deep clone re-keys the index to the
    // copied paths (same bytes, same bounds).
    val stats = srcState.stats.filter(f => live(f._1))
      .map { case (f, m) => mapFile(f) -> m }
    val statsStr = srcState.statsStr.filter(f => live(f._1))
      .map { case (f, m) => mapFile(f) -> m }
    val statsDbl = srcState.statsDbl.filter(f => live(f._1))
      .map { case (f, m) => mapFile(f) -> m }
    // Column-mapped or defaulted sources (rename history, reborn
    // columns, initial defaults): the per-era resolution state lives
    // in the SOURCE's log, so the clone entry must carry it — the
    // rename chain, reborn map, tombstones, the cumulative default
    // map, and the physical schema of every source era that still
    // owns live files (cloned paths keep their source v=N segments,
    // but those versions have no entry in the clone's log to resolve
    // a schema from). All of it is in SOURCE version numbers, which
    // stay coherent because the clone entry takes the clone-point
    // version as its own (below) — every source-era artifact sorts
    // strictly before every clone-era commit. A chained clone
    // composes: the source's own inherited eraSchemas win for eras
    // below ITS clone point.
    val mapped = srcState.renames.nonEmpty || srcState.reborn.nonEmpty ||
      srcState.dropped.nonEmpty || src.defaultsEncoded.nonEmpty ||
      srcState.eraSchemas.nonEmpty
    val eras: Map[Long, String] =
      if (!mapped) Map.empty
      else src.liveFiles(v).map(src.writeVersionOf).distinct.map(w =>
        w -> srcState.eraSchemas.getOrElse(w, src.schemaAt(w).json)).toMap
    // The clone's FIRST commit takes the source's clone-point version
    // (not 0): era-relative reads — rename `chain.filter(_._1 > w)`,
    // reborn `rv > w`, default `addVersion > w` — compare source
    // versions against file write versions, and the clone's own later
    // commits (version > clone point) must never sort BELOW a source
    // era. History and time travel simply begin at the clone point,
    // like a Delta clone whose history begins at the clone commit. A
    // racing clone into the same destination wins that version and
    // this one's retry refuses it.
    dest.publish(-1L)(_ => CommitEntry(v, "clone", System.currentTimeMillis(),
      src.schemaAt(v).json, src.liveFiles(v).map(mapFile), Seq.empty,
      hasChanges = false, bucketSpec = entry.bucketSpec,
      partitionCols = entry.partitionCols,
      stats = stats, statsStr = statsStr, statsDbl = statsDbl,
      dvAdds = dvOverride.getOrElse(src.liveDvFiles(v)),
      // GENERATED ALWAYS AS rules ride the clone entry (Delta clone
      // preserves table metadata): without this the clone would
      // accept wrong caller-supplied values unvalidated, breaking
      // the invariant the source enforces
      generatedCols = src.generatedCols,
      // identity metadata rides too — spec AND high water, so the
      // clone's own appends keep counting from where the source was
      // (ids diverge after the clone, like the data itself)
      identitySpec = src.identitySpec,
      identityHighWater = src.identityHighWater,
      // CHECK constraints and table properties (incl. appendOnly) ride
      // the clone entry too — a clone that silently dropped the
      // source's write-side invariants would accept rows the source
      // refuses
      constraints = srcState.constraints,
      // the source's protocol floors ride the entry: a clone of a
      // column-mapped source is itself column-mapped from birth, and a
      // clone of an identity/append-only source demands the same writer
      minReader = src.protocolVersion.toInt,
      minWriter = src.writerProtocolVersion.toInt,
      // initial-default map: without it, pre-addColumn files in the
      // clone would silently read NULL where the declared default
      // belongs — the same silent-wrong-read this clone path exists
      // to prevent
      addDefaults = src.defaultsEncoded,
      cloneRenames = srcState.renames,
      cloneReborn = srcState.reborn,
      cloneDropped = srcState.dropped.toSeq.sorted,
      cloneEraSchemas = eras))
    dest
  }

  /** S8 existence probe (isDeltaTable analogue). */
  def exists(path: String): Boolean = {
    val logDir = Paths.get(path).resolve("_log")
    Files.isDirectory(logDir) && usingStream(Files.list(logDir))(
      _.exists(_.getFileName.toString.endsWith(".json")))
  }

  /** Empty frame as a [[LocalRelation]] (not an RDD scan) so downstream
    * plan inspection — e.g. merge's skip-the-join fast path — can see
    * the emptiness statically.
    */
  def emptyDf(spark: SparkSession, sch: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), sch)

  /** True iff `df` is statically known to hold zero rows (an empty
    * LocalRelation) — a plan inspection, never a Spark job.
    */
  private[lake] def knownEmpty(df: DataFrame): Boolean =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Lossless type-widening lattice (Delta 4.x / Iceberg type
    * promotion): every value of `from` is exactly representable in
    * `to`, so a read-time upcast can never lose or change data.
    * Deliberately excludes int→float/double (not exact above 2^24/2^53
    * in general for the PAIRED types — long→double loses precision)
    * except the always-exact integral chain and float→double.
    */
  private[lake] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** Schema merge for mergeSchema append: fields only in `incoming`
    * append as nullable; a shared name keeps the WIDER of the two
    * types when the pair is on the lossless widening lattice
    * (INT→BIGINT, FLOAT→DOUBLE — Delta/Iceberg type evolution), and
    * is an error otherwise. `frozen` names (bucket PKs, generated,
    * identity columns) refuse ANY type change: widening a bucket key
    * would silently change its hash layout (Spark hashes int and long
    * differently), breaking merge co-location — the one place a
    * "harmless" upcast corrupts physical structure.
    */
  private[lake] def mergedSchemaWith(existing: StructType,
      incoming: StructType, path: String,
      frozen: Set[String] = Set.empty): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val kept = existing.fields.map { f =>
      byName.get(f.name) match {
        case Some(g) if g.dataType == f.dataType => f
        case Some(g) =>
          require(!frozen.contains(f.name),
            s"mergeSchema cannot change ${f.name}: " +
              s"${f.dataType} -> ${g.dataType} for $path (bucketing/" +
              "generated/identity columns refuse type evolution)")
          if (widens(f.dataType, g.dataType)) f.copy(dataType = g.dataType)
          else {
            // incoming narrower than the table: keep the table type,
            // the batch upcasts at write (conformTo)
            require(widens(g.dataType, f.dataType),
              s"mergeSchema cannot change ${f.name}: " +
                s"${f.dataType} -> ${g.dataType} for $path")
            f
          }
        case None => f
      }
    }
    val existingNames = existing.fieldNames.toSet
    val added = incoming.fields.filterNot(f => existingNames.contains(f.name))
    // re-adding a previously dropped name is allowed: the fold marks
    // the column REBORN at this commit, and per-era reads null it for
    // older files — the retired incarnation's bytes can never
    // resurface (Delta column mapping's fresh-physical-id semantics,
    // resolved per era instead of per file)
    StructType(kept ++ added.map(_.copy(nullable = true)))
  }

  /** Project `df` onto `sch`: present columns pass through (upcast
    * when their type differs — the read-time half of type widening:
    * pre-widening eras scan under their own narrow schema and conform
    * here; only lattice-approved pairs ever reach this, because
    * writes are gated by requireSchemaMatch/mergedSchemaWith), missing
    * columns null-fill with the target type.
    */
  private[graft] def conformTo(df: DataFrame, sch: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(sch.fields.toSeq.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(dt) =>
          // only lattice pairs may reach this cast (writes are gated
          // by requireSchemaMatch/mergedSchemaWith) — an off-lattice
          // pair arriving through a future code path or a corrupted
          // log schema must fail loudly here, not silently
          // null/truncate values
          require(widens(dt, f.dataType) || widens(f.dataType, dt),
            s"conformTo: refusing non-widening cast ${f.name}: " +
              s"$dt -> ${f.dataType} (off the lossless lattice; a " +
              "silent cast would corrupt values)")
          col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Data schema + _change_type, the on-disk change-file schema. */
  private[lake] def changeDataSchema(sch: StructType): StructType =
    StructType(sch.fields :+
      org.apache.spark.sql.types.StructField(ChangeType,
        org.apache.spark.sql.types.StringType, nullable = false))

  /** Full CDF read schema: data + all three metadata columns. */
  private[graft] def changeSchema(sch: StructType): StructType = {
    import org.apache.spark.sql.types._
    StructType(changeDataSchema(sch).fields ++ Seq(
      StructField(CommitVersion, LongType, nullable = false),
      StructField(CommitTimestamp, TimestampType, nullable = false)))
  }

  /** Drain a java.nio stream to a List and close it (Files.list/walk
    * hold an open directory descriptor until closed).
    */
  private[lake] def usingStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator.asScala) finally s.close()

  /** Local filesystem path of `p` whether spelled as a plain path
    * (the log's file lists) or a `file:` URI (`_metadata.file_path`).
    */
  private[lake] def localPath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** Driver-side [min,max] of the DV target-file column, read from a
    * sidecar's parquet footer (no Spark job) — the pre-filter
    * [[MiniLake!.replacePartitions]] uses to skip row-level sidecar
    * scans that cannot intersect the replaced set. None when stats
    * are unavailable (callers stay conservative and scan).
    */
  private[lake] def dvTargetRange(
      conf: org.apache.hadoop.conf.Configuration,
      sidecar: String): Option[(String, String)] =
    try {
      val md = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, new org.apache.hadoop.fs.Path(sidecar),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      var acc: Option[(String, String)] = None
      var statless = false
      md.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.toDotString == DvFileCol) {
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) statless = true
            else {
              val mn = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              val mx = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              acc = acc match {
                case Some((lo, hi)) =>
                  Some((if (mn < lo) mn else lo, if (mx > hi) mx else hi))
                case None => Some((mn, mx))
              }
            }
          }
        }
      }
      // any stats-missing row group poisons the bound (its targets are
      // unknown, so no sound range exists for the file)
      if (statless) None else acc
    } catch { case _: Exception => None }

  private[lake] def parquetFilesIn(dir: Path): Seq[String] =
    usingStream(Files.walk(dir))(_.filter(p =>
      Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted)

  /** Recursive delete helper for tests. */
  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      usingStream(Files.walk(p).sorted(Comparator.reverseOrder[Path]()))(
        _.foreach(Files.delete))
    }
  }
}
