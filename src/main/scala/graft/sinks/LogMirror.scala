package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import graft.cdc.{Materialize, SchemaEvolution}
import graft.plans.{LatestPerKey, LatestPerKeyNode}

/** Log-structured CDC mirror: an immutable BASE segment plus an ordered
  * list of per-batch DELTA segments, committed through an atomic
  * manifest pointer — the layout that makes a merge's write cost
  * proportional to the BATCH, not to the mirror or even a bucket of it.
  *
  * A full-rewrite mirror rewrites the whole table per batch, and a
  * bucketed one every bucket the batch touches (a 1-row change still
  * rewrites its whole ~GB bucket at scale). Here a merge writes ONLY
  * the batch collapsed to latest-per-key — the delta segment — and
  * never reads the base at all:
  *
  *   - merge: `versionedState(batch)` → `segments/delta-<batchId>`,
  *     manifest appends the segment. Zero base reads, write bytes
  *     ∝ batch keys. This is the reference's row-level upsert cost
  *     model (register-postgres-sink.json:15-17 writes only the
  *     batch's rows) realized on immutable storage.
  *   - read: base ∪ deltas planned as ONE parquet scan with the
  *     schema the manifest records (a bucketed base is a second scan:
  *     its `_bucket=` dirs cannot share a flat scan's partition
  *     discovery) — no schema-inference job and no per-segment scan
  *     stage, so a read's fixed cost does not grow with the delta
  *     depth. Rows reconcile by the stored (ts_ms, offset) version per
  *     key — the same ordering every mirror layout uses, so
  *     late/replayed changes can never regress a newer row.
  *   - compaction (automatic past `maxDeltas` or when a commit widens
  *     a key column over a bucketed base, or explicit): folds
  *     base+deltas into a fresh base segment and resets the delta
  *     list — amortized O(mirror/maxDeltas) per batch, the standard
  *     LSM trade: read cost is bounded by `maxDeltas` reconcile
  *     inputs, write amplification is bounded by the fold cadence.
  *
  * Manifest format (`MANIFEST-<commitId>`, one entry per line):
  * {{{
  *   k:<key,cols>          key columns
  *   n:<buckets>           base bucket count (bucketed layouts only)
  *   s:<StructType json>   read schema of the live segments
  *   base:<id>             base segment (absent before the first fold)
  *   delta:<id>            one line per live delta segment
  * }}}
  * The read schema is the union of the live segments' columns, each at
  * the wider type where segments differ ([[SchemaEvolution.widensTo]]:
  * int→long, float→double), every field nullable; a segment missing a
  * column reads it as null. Every commit (merge, fold, purge) rewrites
  * it, and a manifest without it is rejected.
  *
  * Crash safety is a versioned-dir + pointer design: segment dirs land
  * BEFORE the manifest commit (tmp-file + atomic rename, readers take
  * the highest manifest id), so a crash at any point leaves the previous manifest pointing at complete
  * segments. Replays are idempotent — a replayed batch overwrites its
  * own delta dir and recommits an identical manifest; tombstones are
  * RETAINED through compaction, so a replayed batch containing a
  * pre-delete change can never resurrect a deleted key.
  *
  * At 100 TB: deltas are small sorted files (row-group stats serve
  * point lookups); the base is bucket-partitioned (`n:` in the
  * manifest) so key lookups prune to one base partition + the deltas;
  * compaction is the only mirror-sized job and runs on YOUR cadence,
  * off the ingest path if desired (`maxDeltas = Int.MaxValue` +
  * explicit `compact()` in a maintenance window).
  */
object LogMirror {

  /** Committed mirror layout: key columns + optional base bucket count,
    * the base segment id, the ordered live delta ids, and the read
    * schema every scan of the segments is pinned to. */
  final case class Manifest(keyCols: Seq[String], bucketCount: Option[Int],
                            base: Option[Long], deltas: Seq[Long],
                            schema: StructType)

  private[sinks] def manifestId(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("MANIFEST-")) n.stripPrefix("MANIFEST-").toLongOption
    else None
  }

  private[sinks] def latestManifest(fs: FileSystem, root: String): Option[Path] = {
    val dir = new Path(root)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath)
      .flatMap(p => manifestId(p).map(_ -> p))
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** Absent manifest = never-written mirror. */
  def readManifest(fs: FileSystem, root: String): Option[Manifest] =
    latestManifest(fs, root).map { mf =>
      val in = fs.open(mf)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
      Manifest(
        keyCols = lines.collectFirst {
          case l if l.startsWith("k:") => l.stripPrefix("k:").split(',').toSeq
        }.getOrElse(Seq.empty),
        bucketCount = lines.collectFirst {
          case l if l.startsWith("n:") => l.stripPrefix("n:").toInt
        },
        base = lines.collectFirst {
          case l if l.startsWith("base:") => l.stripPrefix("base:").toLong
        },
        deltas = lines.collect {
          case l if l.startsWith("delta:") => l.stripPrefix("delta:").toLong
        }.sorted,
        schema = lines.collectFirst {
          case l if l.startsWith("s:") =>
            DataType.fromJson(l.stripPrefix("s:")).asInstanceOf[StructType]
        }.getOrElse(sys.error(
          s"LogMirror at $root: manifest ${mf.getName} records no read " +
            "schema (s: line); rebuild the mirror by replaying its changes")))
    }

  private def writeManifest(fs: FileSystem, root: String, commitId: Long,
                            m: Manifest): Unit = {
    val tmp = new Path(s"$root/.MANIFEST-$commitId.tmp")
    // LocalFs: one manifest per TABLE per TRIGGER rides this path — the
    // local-FS create otherwise forks a chmod per call (~12 ms)
    graft.core.LocalFs.writeSmall(fs, tmp, (
      Seq(s"k:${m.keyCols.mkString(",")}") ++
        m.bucketCount.map(n => s"n:$n") ++
        Seq(s"s:${m.schema.json}") ++
        m.base.map(b => s"base:$b") ++
        m.deltas.map(d => s"delta:$d"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val dst = new Path(s"$root/MANIFEST-$commitId")
    fs.delete(dst, false) // replay of the same batch recommits
    if (!fs.rename(tmp, dst)) sys.error(s"manifest commit failed for $root")
    // sweep superseded manifests (readers take the newest)
    fs.listStatus(new Path(root)).map(_.getPath)
      .filter(p => manifestId(p).exists(_ < commitId))
      .foreach(p => fs.delete(p, false))
  }

  private def basePath(root: String, v: Long) = s"$root/segments/base-$v"
  private def deltaPath(root: String, v: Long) = s"$root/segments/delta-$v"

  private def bucketExpr(keyCols: Seq[String], n: Int) =
    pmod(hash(keyCols.map(col): _*), lit(n))

  private val versionCols = Seq(Materialize.versionTs, Materialize.versionOffset)

  /** Latest row per key across segments by the stored version order —
    * the cross-segment analog of [[Materialize.latestPerKey]], running
    * on already-versioned rows through the same kernel
    * ([[graft.plans.LatestPerKey]]): one exchange keyed by PK, one sort,
    * a first-row-per-key pass. Columns keep the scan's order. */
  private def reconcile(segments: DataFrame, keyCols: Seq[String]): DataFrame =
    LatestPerKey(segments, keyCols, versionCols)

  /** Read schema after adding a segment of schema `seg` to a segment
    * set read as `current`: the union of their columns (first-seen
    * order, so an additive column lands last), the wider type where
    * they differ, every field nullable. A delta written after an
    * additive evolution carries columns the base predates — they
    * backfill null (auto.evolve=true, register-postgres-sink.json:14).
    * A type change that does not widen fails the commit: no pinned
    * scan could read both segments. */
  private def widen(root: String, current: StructType,
                    seg: StructType): StructType =
    StructType(seg.fields.foldLeft(current.fields.toVector) { (acc, f) =>
      acc.indexWhere(_.name == f.name) match {
        case -1 => acc :+ f
        case i =>
          val have = acc(i).dataType
          if (DataType.equalsStructurally(have, f.dataType, true) ||
            SchemaEvolution.widensTo(f.dataType, have)) acc
          else if (SchemaEvolution.widensTo(have, f.dataType))
            acc.updated(i, acc(i).copy(dataType = f.dataType))
          else sys.error(s"LogMirror at $root: column ${f.name} changes " +
            s"type ${have.simpleString} -> ${f.dataType.simpleString}, " +
            "which does not widen")
      }
    }).toNullable

  private val bucketCol = "_bucket"

  private def isBucketed(fs: FileSystem, root: String, base: Long): Boolean =
    fs.listStatus(new Path(basePath(root, base)))
      .exists(_.getPath.getName.startsWith(s"$bucketCol="))

  /** The one way segments are read: parquet scans pinned to the
    * manifest's schema, so no inference job runs and the paths of a
    * scan share one scan stage. A segment set is at most two scans: the
    * deltas (and a flat base) in one, a bucketed base in its own — its
    * `_bucket=` dirs cannot share a flat scan's partition discovery.
    * `tag` runs on each raw scan, where `_metadata` still resolves;
    * `bucketPrune` filters the bucketed base's `_bucket` partitions. */
  private def segmentScan(spark: SparkSession, fs: FileSystem, root: String,
                          m: Manifest, base: Option[Long], deltas: Seq[Long],
                          bucketPrune: Option[Column] = None,
                          tag: DataFrame => DataFrame = identity): DataFrame = {
    def scan(schema: StructType, paths: Seq[String]): DataFrame =
      tag(spark.read.schema(schema).parquet(paths: _*))
    val bucketed = base.filter(isBucketed(fs, root, _))
    val flat = base.filterNot(bucketed.contains).map(basePath(root, _)).toSeq ++
      deltas.map(deltaPath(root, _))
    val bucketScan = bucketed.map { v =>
      val b = scan(m.schema.add(bucketCol, IntegerType), Seq(basePath(root, v)))
      bucketPrune.fold(b)(p => b.filter(col(bucketCol) === p)).drop(bucketCol)
    }
    (bucketScan.toSeq ++ Option.when(flat.nonEmpty)(scan(m.schema, flat)))
      .reduce(_.union(_))
  }

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Merge one unwrapped change batch: write the batch's latest-per-key
    * delta segment (NO base read), commit, and fold when the delta list
    * reaches `maxDeltas`. */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            keyCols: Seq[String], batchId: Long, maxDeltas: Int,
            bucketCount: Option[Int]): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    precheck(fs, root, keyCols, batchId)
    val delta = Materialize.versionedState(changes, keyCols).persist()
    try {
      if (delta.isEmpty) return // nothing survived the batch (all malformed)
      // delta files are key-sorted so parquet row-group min/max stats
      // prune point lookups inside each segment
      delta.sortWithinPartitions(keyCols.map(col): _*)
        .write.mode("overwrite").parquet(deltaPath(root, batchId))
    } finally delta.unpersist()
    commitDelta(spark, fs, root, keyCols, batchId, maxDeltas, bucketCount,
      delta.schema)
  }

  private def precheck(fs: FileSystem, root: String, keyCols: Seq[String],
                       batchId: Long): Unit = {
    readManifest(fs, root).foreach { m =>
      // a merge keyed differently from the committed layout would
      // reconcile the wrong per-key state — fail loudly
      require(m.keyCols == keyCols,
        s"LogMirror at $root is keyed by ${m.keyCols}; merge got $keyCols")
    }
    // readers resolve the HIGHEST manifest id, so a commit below it
    // would be invisible while its sweep destroys the visible segments;
    // equality is the foreachBatch replay (allowed — it recommits)
    latestManifest(fs, root).flatMap(manifestId).filter(_ > batchId)
      .foreach(newest => sys.error(
        s"LogMirror commit ids must advance: batch $batchId behind " +
          s"committed manifest $newest at $root"))
  }

  /** Manifest commit for an already-written `delta-<batchId>` segment of
    * schema `segSchema` (+ the past-`maxDeltas` fold). */
  private def commitDelta(spark: SparkSession, fs: FileSystem, root: String,
                          keyCols: Seq[String], batchId: Long, maxDeltas: Int,
                          bucketCount: Option[Int],
                          segSchema: StructType): Unit = {
    val prev = readManifest(fs, root)
    val deltas = prev.map(_.deltas).getOrElse(Seq.empty)
      .filterNot(_ == batchId) :+ batchId // replay overwrites its own slot
    val m = Manifest(keyCols, bucketCount, prev.flatMap(_.base), deltas,
      widen(root, prev.fold(new StructType())(_.schema), segSchema))
    // a bucketed base's `_bucket=` dirs hold the key hashed at the type
    // it was folded with, and lookup hashes its probe at the manifest's
    // key type (murmur3 hashes Int and Long differently): a commit that
    // widens a key column folds at once, rehashing the base at the new type
    val keyWidened = prev.exists(p =>
      keyCols.exists(k => p.schema(k).dataType != m.schema(k).dataType))
    if (deltas.length >= maxDeltas ||
      (keyWidened && m.base.exists(isBucketed(fs, root, _))))
      compactTo(spark, fs, root, m, batchId)
    else {
      writeManifest(fs, root, batchId, m)
      sweep(fs, root, m)
    }
  }

  /** One table of a [[mergeGroup]]: its mirror name, its key columns
    * and its registered row columns (keys included, in row order). */
  final case class GroupTable(name: String, keyCols: Seq[String],
                              columns: Seq[String])

  /** Prefix of a [[mergeGroup]] staging dir under the group's root,
    * `<prefix><batchId>_<hash of the group's table names>`. */
  private[graft] val groupStaging = ".log_group_staging_"

  /** Group merge: ONE latest-per-key pass and ONE `partitionBy(table)`
    * write land the delta segment of every table in `tables`, whatever
    * their keys and row schemas; each table then receives its segment
    * by a metadata rename and commits its own manifest. Per-table crash
    * semantics are unchanged: segments land before manifests, a
    * replayed batch overwrites its own slot, and a crash mid-loop
    * leaves the remaining tables' manifests at the prior batch, which
    * the replay completes. The job count does not depend on the number
    * of tables or schemas. Tables absent from the batch are untouched.
    *
    * `changes` carries `tableCol`, the union of the tables' columns and
    * the change metadata (`op`, `ts_ms`, `offset`, ...); a table's rows
    * hold nulls in the columns it does not register. Same-named columns
    * must share one type. The kernel is keyed by `tableCol` plus every
    * key column of the group, each MASKED to the tables keyed on it: a
    * key column is null on the rows of every other table. Keying on the
    * raw column instead would split one table's rows by a foreign-key
    * column that happens to be another table's key (`ventas.id_entidad`
    * is the key of `entidades`), and an update that changed it would
    * leave two live rows. Columns a table does not register are nulled
    * on its rows before the write, and each manifest pins the table's
    * OWN columns (keys first, then its other columns in row order, then
    * the version columns: the layout [[merge]] writes), so a read never
    * sees another table's columns.
    *
    * The kernel's hash exchange is the write's only exchange: AQE
    * coalesces its partitions to the batch's bytes, so a small trigger
    * writes one file per table rather than one per shuffle partition,
    * and the kernel's key order serves the key-sorted write without
    * another sort. */
  def mergeGroup(spark: SparkSession, mirrorRoot: String, changes: DataFrame,
                 tables: Seq[GroupTable], batchId: Long, maxDeltas: Int,
                 bucketCount: Option[Int],
                 tableCol: String = "table_name"): Unit = {
    val fs = new Path(mirrorRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach(t => precheck(fs, s"$mirrorRoot/${t.name}", t.keyCols, batchId))
    // `c` restricted to the rows of the tables `having` it
    def maskedTo(having: GroupTable => Seq[String])(c: String): Column = {
      val owners = tables.filter(having(_).contains(c)).map(_.name)
      if (owners.size == tables.size) col(c)
      else when(col(tableCol).isin(owners: _*), col(c))
    }
    val dataCols = tables.flatMap(_.columns).distinct
    val keys = tables.flatMap(_.keyCols).distinct
    // a key every table shares keys the kernel as it is; any other key
    // column keys it through a masked copy
    val kernelKeys = keys.map(k =>
      if (tables.forall(_.keyCols.contains(k))) k else s"_gk_$k")
    val masked = changes.select(changes.columns.toSeq.map(c =>
      if (dataCols.contains(c)) maskedTo(_.columns)(c).as(c) else col(c)) ++
      keys.zip(kernelKeys).collect { case (k, g) if g != k =>
        maskedTo(_.keyCols)(k).as(g) }: _*)
    val kernelCols = tableCol +: kernelKeys
    val delta = Materialize.versionedState(masked, kernelCols)
    val tmp = new Path(mirrorRoot, s"$groupStaging${batchId}_" +
      f"${tables.map(_.name).sorted.mkString(",").hashCode}%08x")
    // a crash skips the `finally` below: a replay of this batch reuses
    // its staging dir, and a later batch sweeps what earlier ones left.
    // Concurrent groups of the same batch (other names) are not touched
    val rootDir = new Path(mirrorRoot)
    if (fs.exists(rootDir)) for (st <- fs.listStatus(rootDir);
         n = st.getPath.getName if n.startsWith(groupStaging);
         b <- n.stripPrefix(groupStaging).takeWhile(_ != '_').toLongOption
         if b < batchId)
      fs.delete(st.getPath, true)
    try {
      // one write: partition dirs split per table, rows key-sorted
      // within each task so every file's row groups carry usable stats
      delta.sortWithinPartitions(kernelCols.map(col): _*)
        .drop(kernelKeys.filterNot(keys.contains): _*)
        .write.partitionBy(tableCol).mode("overwrite").parquet(tmp.toString)
      tables.foreach { t =>
        val part = new Path(tmp, s"$tableCol=${t.name}")
        if (fs.exists(part)) { // absent = no surviving changes for t
          val root = s"$mirrorRoot/${t.name}"
          val dst = new Path(deltaPath(root, batchId))
          fs.delete(dst, true) // replay overwrites its own slot
          graft.core.LocalFs.mkdirs(fs, dst.getParent)
          if (!fs.rename(part, dst))
            sys.error(s"delta segment rename failed for ${t.name}")
          // stagger the folds: the group shares one batch counter, so
          // every table would hit maxDeltas on the SAME trigger and the
          // amortized fold would become a global pause; a deterministic
          // per-table offset spreads folds over [maxDeltas, 1.5×maxDeltas)
          val stagger = math.abs(t.name.hashCode) % (maxDeltas / 2 + 1)
          val own = t.keyCols ++ t.columns.filterNot(t.keyCols.contains) ++
            versionCols :+ Materialize.deletedFlag
          commitDelta(spark, fs, root, t.keyCols, batchId,
            maxDeltas + stagger, bucketCount,
            StructType(own.map(delta.schema(_))))
        }
      }
    } finally fs.delete(tmp, true)
  }

  /** Fold base+deltas into a fresh base segment (explicit entry point
    * for off-ingest-path compaction; merge calls it automatically past
    * `maxDeltas`). No-op when there is nothing to fold. Tombstones are
    * retained: a replayed batch may still carry changes OLDER than a
    * key's delete, and only the tombstone's stored version outranks
    * them. */
  def compact(spark: SparkSession, root: String): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root).filter(_.deltas.nonEmpty).foreach { m =>
      compactTo(spark, fs, root, m, m.deltas.max)
    }
  }

  private def compactTo(spark: SparkSession, fs: FileSystem, root: String,
                        m: Manifest, commitId: Long): Unit =
    writeBase(spark, fs, root, m, commitId,
      reconcile(segmentScan(spark, fs, root, m, m.base, m.deltas), m.keyCols))

  /** Hard-delete: remove EVERY trace of the given keys — live rows AND
    * tombstones — from the mirror (the right-to-be-forgotten obligation
    * a replication platform carries; soft deletes keep tombstones, a
    * purge may not). One forced fold: reconcile all segments, anti-join
    * the purge set, publish as a FRESH base at `currentVersion + 1` and
    * sweep every old segment — write cost ∝ mirror, the same job class
    * as a compaction, run it in the same maintenance window
    * (single-writer discipline: quiesce the ingest stream first — the
    * version bump makes a concurrent writer's in-flight batch fail
    * loudly rather than resurrect data). Changefeed consumers behind
    * the purge get the retention-lost re-snapshot, so purged keys never
    * reach them; `keys` carries the mirror's key columns (any size —
    * it joins, it is never collected). */
  def purgeKeys(spark: SparkSession, root: String, keys: DataFrame): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root).foreach { m =>
      val purgeId = latestManifest(fs, root).flatMap(manifestId).get + 1
      val folded = reconcile(segmentScan(spark, fs, root, m, m.base, m.deltas),
        m.keyCols)
        .join(keys.select(m.keyCols.map(col): _*), m.keyCols, "left_anti")
      writeBase(spark, fs, root, m, purgeId, folded)
    }
  }

  private def writeBase(spark: SparkSession, fs: FileSystem, root: String,
                        m: Manifest, commitId: Long,
                        folded: DataFrame): Unit = {
    val writer = m.bucketCount match {
      case Some(n) => folded
        .withColumn(bucketCol, bucketExpr(m.keyCols, n))
        .repartition(n, col(bucketCol))
        .sortWithinPartitions((bucketCol +: m.keyCols).map(col): _*)
        .write.partitionBy(bucketCol)
      case None => folded
        .sortWithinPartitions(m.keyCols.map(col): _*)
        .write
    }
    writer.mode("overwrite").parquet(basePath(root, commitId))
    val next = m.copy(base = Some(commitId), deltas = Seq.empty)
    writeManifest(fs, root, commitId, next)
    sweep(fs, root, next)
  }

  /** Per-segment health stats — (kind, version, n_rows, n_tombstones)
    * for the base and every live delta — the numbers an operator
    * watches to size `maxDeltas` / schedule compaction (deep deltas =
    * slow reads; tombstone-heavy base = fold overdue). One grouped
    * scan: each row is tagged with its segment from the file path
    * (`_metadata.file_path`), and one aggregation keyed by segment
    * counts rows and tombstones; only the tombstone flag is read. A
    * segment with no rows reports no row. Feed the result into the
    * monitoring spine like any health frame. */
  def segmentStats(spark: SparkSession, root: String): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case None => emptyFrame(spark, StructType.fromDDL(
        "kind STRING, version BIGINT, n_rows BIGINT, n_tombstones BIGINT"))
      case Some(m) =>
        val segment = "_segment"
        segmentScan(spark, fs, root, m, m.base, m.deltas,
          tag = _.withColumn(segment, col("_metadata.file_path")))
          .select(
            regexp_extract(col(segment), segmentPattern, 1).as("kind"),
            segmentId(col(segment)).as("version"),
            col(Materialize.deletedFlag))
          .groupBy("kind", "version")
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col(Materialize.deletedFlag).cast("long")), lit(0L))
              .as("n_tombstones"))
    }
  }

  /** Segment kind and id from a data file's path; the greedy prefix
    * matches the LAST `segments/` component, so a root that happens to
    * contain one cannot shadow it. */
  private val segmentPattern = ".*/segments/(base|delta)-([0-9]+)/"

  private def segmentId(filePath: Column): Column =
    regexp_extract(filePath, segmentPattern, 2).cast("long")

  /** Stats-driven compaction policy: fold when the delta list is
    * deeper than `maxDeltaDepth` OR tombstones exceed
    * `maxTombstoneRatio` of all segment rows (a tombstone-heavy mirror
    * pays reconcile work for keys that no longer exist — only a fold
    * collapses a tombstone onto the base row it masks). Returns true
    * when it compacted. Decision cost is [[segmentStats]] — one scan of
    * the tombstone flag column — so this is safe to call every batch from a
    * maintenance cadence (`merge`'s own `maxDeltas` fold stays the
    * inline backstop). */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxDeltaDepth: Int = 8,
                      maxTombstoneRatio: Double = 0.2): Boolean = {
    require(maxDeltaDepth >= 1, "maxDeltaDepth must be >= 1")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root).filter(_.deltas.nonEmpty) match {
      case None => false
      case Some(m) =>
        val due =
          if (m.deltas.length > maxDeltaDepth) true
          else {
            val r = segmentStats(spark, root)
              .agg(sum("n_rows"), sum("n_tombstones")).head()
            r.getLong(1) > r.getLong(0) * maxTombstoneRatio
          }
        if (due) compactTo(spark, fs, root, m, m.deltas.max)
        due
    }
  }

  /** Drop segment dirs the committed manifest no longer references
    * (superseded bases, folded deltas, crash leftovers). Single-writer
    * discipline: a reader holding the immediately-previous manifest may
    * race a compaction sweep — run compaction off the read path or
    * tolerate a retry. */
  private def sweep(fs: FileSystem, root: String, m: Manifest): Unit = {
    val dir = new Path(s"$root/segments")
    if (!fs.exists(dir)) return
    val live = m.base.map(v => s"base-$v").toSet ++
      m.deltas.map(v => s"delta-$v")
    fs.listStatus(dir).map(_.getPath)
      .filterNot(p => live(p.getName))
      .foreach(p => fs.delete(p, true))
  }

  /** Versioned snapshot (tombstones + bookkeeping retained). */
  def readVersioned(spark: SparkSession, root: String): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case Some(m) =>
        reconcile(segmentScan(spark, fs, root, m, m.base, m.deltas), m.keyCols)
      case None =>
        // never-written mirror: the only manifest-less case, so the only
        // one without a recorded schema — bookkeeping columns only
        emptyFrame(spark, StructType.fromDDL(
          s"`${Materialize.versionTs}` BIGINT, " +
            s"`${Materialize.versionOffset}` BIGINT, " +
            s"`${Materialize.deletedFlag}` BOOLEAN"))
    }
  }

  /** Live current-state read. */
  def read(spark: SparkSession, root: String): DataFrame =
    Materialize.stripVersions(readVersioned(spark, root))

  /** The root of the mirror whose CURRENT state `plan` reconciles: Some
    * only when `plan` is [[readVersioned]]'s reconcile — the
    * latest-per-key node keyed by the manifest's key columns and
    * versioned by the stored version — directly over parquet scans
    * whose paths are exactly the latest manifest's base and deltas. A
    * plan pinned to an older segment set (built
    * before a later commit), a time-travel or changefeed window, a
    * key-filtered lookup or a raw segment scan reads other rows and
    * gets None. This lets a plan rewrite recognize a mirror read
    * without knowing the layout ([[graft.plans.MvRewriteRule]]); the
    * live-row filter above it is the caller's to check. */
  def rootOfRead(plan: LogicalPlan): Option[String] = plan match {
    case LatestPerKeyNode(keyExprs, versions, child) =>
      // bare columns only: a computed key or version reads other rows
      def names(es: Seq[Expression]): Option[Seq[String]] = {
        val as = es.collect { case a: AttributeReference => a.name }
        Option.when(as.size == es.size)(as)
      }
      for {
        keys <- names(keyExprs)
        if names(versions).contains(versionCols)
        paths <- scanPaths(child)
        segs = paths.map(_.getParent)
        root <- segs.map(_.getParent).distinct match {
          case Seq(r) if segs.forall(_.getName == "segments") => Some(r)
          case _ => None
        }
        fs = root.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        m <- scala.util.Try(readManifest(fs, root.toString)).toOption.flatten
        if m.keyCols == keys
        live = m.base.map(v => s"base-$v").toSeq ++ m.deltas.map(v => s"delta-$v")
        if paths.map(_.getName).sorted == live.sorted
      } yield root.toString
    case _ => None
  }

  /** Root paths of the parquet scans under a reconcile: scans, unions
    * of them, and column-pruning projections only — None when anything
    * else (a filter, a join, a non-file relation) sits in between. */
  private def scanPaths(plan: LogicalPlan): Option[Seq[Path]] = plan match {
    case LogicalRelation(fsr: HadoopFsRelation, _, _, _, _) =>
      Some(fsr.location.rootPaths)
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      scanPaths(child)
    case Union(children, _, _) =>
      val each = children.map(scanPaths)
      Option.when(each.forall(_.isDefined))(each.flatMap(_.get))
    case _ => None
  }

  /** Version time travel: the mirror's state as of committed batch
    * `version` — reconcile the base plus ONLY the delta segments with
    * id ≤ `version`, exactly the segment set a reader at that commit
    * saw. Same cost class as [[read]] (bounded by the delta depth at
    * that point), no extra storage: the log layout IS the history.
    *
    * Retention contract mirrors [[changesSince]]: compaction folds
    * deltas into a base stamped with the newest folded id, so once the
    * base id has advanced past `version` the per-batch segments that
    * made up that state are gone — this throws
    * [[RetentionLostException]] rather than serving a state assembled
    * from the wrong segments. Size `maxDeltas` (the retention window)
    * to the oldest state you need to reproduce, or compact explicitly
    * on that cadence. Complements [[Materialize.stateAsOf]] (EVENT-time
    * travel over a change log): this is COMMIT-time travel over the
    * mirror's own segment history, the "query the table as of batch N"
    * obligation of a replication target. */
  def readAsOf(spark: SparkSession, root: String, version: Long): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case None => read(spark, root)
      case Some(m) =>
        m.base.filter(_ > version).foreach(b => throw
          new RetentionLostException(
            s"LogMirror at $root folded batches up to $b into its base; " +
              s"the state as of $version can no longer be reconstructed " +
              "(retention = maxDeltas)."))
        val visible = m.deltas.filter(_ <= version)
        Materialize.stripVersions(
          if (m.base.isEmpty && visible.isEmpty)
            // requested a version before the first commit: empty state
            // in the live schema
            emptyFrame(spark, m.schema)
          else reconcile(segmentScan(spark, fs, root, m, m.base, visible),
            m.keyCols))
    }
  }

  /** Thrown by [[changesSince]] when compaction has folded batches
    * newer than the requested checkpoint into the base — the per-batch
    * segments are gone, so the consumer must re-snapshot via [[read]] /
    * [[readVersioned]] and resume from [[currentVersion]]. */
  final class RetentionLostException(msg: String)
    extends RuntimeException(msg)

  /** Change-type marker column emitted by [[changesSince]]. */
  val changeType = "_change_type"

  /** Commit-version column emitted by [[changesSince]]: the id of the
    * batch whose change survived reconciliation for the key. */
  val commitVersion = "_commit_version"

  /** Latest committed version (newest manifest id); None for a
    * never-written mirror. Downstream consumers checkpoint this and
    * hand it back to [[changesSince]] on their next poll. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, root).flatMap(manifestId)
  }

  private def asFeed(versioned: DataFrame): DataFrame =
    versioned
      .withColumn(changeType,
        when(col(Materialize.deletedFlag), "delete").otherwise("upsert"))
      .drop(Materialize.versionTs, Materialize.versionOffset,
        Materialize.deletedFlag)

  /** Outbound incremental changefeed: the POST-IMAGE of every key whose
    * mirror state changed after `sinceVersion` — one row per changed
    * key, marked `_change_type` ('upsert'|'delete', deletes keep only
    * key columns) and `_commit_version` (the batch whose change
    * survived). Late event-time arrivals that lost the version race to
    * pre-checkpoint state emit nothing (the mirror didn't change), so a
    * consumer that applies the feed BLINDLY to its copy of the state as
    * of `sinceVersion` lands exactly on the mirror's current state —
    * the downstream half of the reference's replication chain (a sink
    * connector consuming row-level changes,
    * register-postgres-sink.json:15-17), emitted from the mirror
    * instead of the source DB.
    *
    * Cost: reads ONLY the delta segments with id > `sinceVersion` —
    * bytes ∝ new data since the consumer's checkpoint; the base (the
    * mirror-sized part) is never opened. At 100 TB this is what lets N
    * downstream consumers each poll at their own cadence without any of
    * them paying a table scan.
    *
    * Retention contract: compaction folds deltas into the base, and a
    * folded batch's per-batch identity is gone — when the base id has
    * advanced past `sinceVersion` this throws, and the consumer must
    * re-snapshot via [[read]] and resume from [[currentVersion]]. Size
    * `maxDeltas` (the retention window) to the slowest consumer's lag,
    * or run explicit `compact()` on a cadence that respects it. */
  def changesSince(spark: SparkSession, root: String,
                   sinceVersion: Long): DataFrame =
    asFeed(changesSinceVersioned(spark, root, sinceVersion))

  /** Replication-grade form of [[changesSince]]: the same per-key
    * POST-IMAGE window, but RETAINING the stored (`_v_ts_ms`,
    * `_v_offset`) version columns and tombstone flag alongside
    * `_commit_version` — a replicator re-applies source ordering
    * exactly, so a target mirror converges to byte-identical versioned
    * state.
    *
    * Post-image semantics: a window change that LOST the version race
    * to pre-checkpoint state (a late event-time arrival for a key whose
    * mirror value is already newer) changed nothing — it emits NO row.
    * Without this, a consumer applying the feed blindly would regress
    * such keys to the stale value. The check reads ONLY the key and
    * version columns of the pre-checkpoint segments (parquet prunes the
    * payload) and semi-joins the window's keys; version ties (the same
    * event redelivered in a later batch) resolve to the prior copy,
    * i.e. no emission. */
  def changesSinceVersioned(spark: SparkSession, root: String,
                            sinceVersion: Long): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case None =>
        readVersioned(spark, root).withColumn(commitVersion, lit(-1L))
      case Some(m) =>
        m.base.filter(_ > sinceVersion).foreach(b => throw
          new RetentionLostException(
            s"LogMirror at $root folded batches up to $b into its base; " +
              s"the per-batch changes after $sinceVersion are gone " +
              "(retention = maxDeltas). Re-snapshot via read() and resume " +
              "from currentVersion()."))
        val window = m.deltas.filter(_ > sinceVersion)
        if (window.isEmpty) {
          // consumer is caught up: empty feed in the live schema
          emptyFrame(spark, m.schema).withColumn(commitVersion, lit(-1L))
        } else {
          // each row's commit version is its delta's id, read off the
          // file path by the window's single scan
          val windowRows = segmentScan(spark, fs, root, m, None, window,
            tag = _.withColumn(commitVersion,
              segmentId(col("_metadata.file_path"))))
          // commitVersion rides along as a plain column, so each
          // surviving row carries the id of the batch that produced it
          val windowNet = reconcile(windowRows, m.keyCols)
          // prior version per affected key, from KEY+VERSION columns
          // only — the parquet scan prunes the payload (bytes ∝ key and
          // version columns of the older segments, not the mirror)
          val older = m.deltas.filter(_ <= sinceVersion)
          if (m.base.isEmpty && older.isEmpty) windowNet
          else {
            // the window's keys come from its raw rows: a semi join
            // needs the key set, not the reconciled rows
            val prior = reconcile(
              segmentScan(spark, fs, root, m, m.base, older)
                .select((m.keyCols ++ versionCols).map(col): _*)
                .join(windowRows.select(m.keyCols.map(col): _*), m.keyCols,
                  "left_semi"),
              m.keyCols)
              .select(m.keyCols.map(col) :+
                struct(versionCols.map(col): _*).as("_prior_v"): _*)
            // a window change emits only when it STRICTLY outranks the
            // pre-checkpoint version: late arrivals that lost the race
            // and exact redeliveries (ties) emit nothing
            windowNet.join(prior, m.keyCols, "left")
              .filter(col("_prior_v").isNull ||
                struct(versionCols.map(col): _*) > col("_prior_v"))
              .drop("_prior_v")
          }
        }
    }
  }

  /** Point lookup: one key-filtered scan of the segment set, probe
    * literals typed from the manifest schema. A bucketed base prunes to
    * the key's `_bucket=` partition (manifest's stored n); every other
    * file is pruned by row-group stats (segments are key-sorted) — then
    * the handful of surviving rows reconcile. O(base partition +
    * #deltas row groups), never O(table). */
  def lookup(spark: SparkSession, root: String, keyCols: Seq[String],
             keyValues: Seq[Any]): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case None => Materialize.stripVersions(readVersioned(spark, root))
      case Some(m) =>
        // typed literals: murmur3 hashes Int and Long differently, so an
        // uncast probe would compute a bucket the row isn't in; the
        // manifest's key types are the base's (a key widening refolds
        // a bucketed base at once, commitDelta)
        val typed = keyCols.zip(keyValues).map { case (k, v) =>
          lit(v).cast(m.schema(k).dataType)
        }
        val rows = segmentScan(spark, fs, root, m, m.base, m.deltas,
          bucketPrune = m.bucketCount.map(n => pmod(hash(typed: _*), lit(n))))
          .filter(keyCols.zip(typed).map { case (k, v) => col(k) === v }
            .reduce(_ && _))
        Materialize.stripVersions(reconcile(rows, keyCols))
    }
  }
}

/** [[LogMirror]] behind the [[MirrorSink]] interface — the in-repo
  * realization of the row-level MERGE sink the trait was declared for:
  * per-batch write cost ∝ batch size (delta-only writes), read-side
  * reconcile bounded by `maxDeltas`, compaction amortized. */
final case class LogMirrorSink(maxDeltas: Int = 16,
                               bucketCount: Option[Int] = None)
    extends MirrorSink {
  require(maxDeltas >= 1, "maxDeltas must be >= 1")

  override def merge(spark: SparkSession, tableRoot: String, changes: DataFrame,
                     keyCols: Seq[String], batchId: Long): Unit =
    LogMirror.merge(spark, tableRoot, changes, keyCols, batchId, maxDeltas,
      bucketCount)

  override def read(spark: SparkSession, tableRoot: String): DataFrame =
    LogMirror.read(spark, tableRoot)

  override def lookup(spark: SparkSession, tableRoot: String,
                      keyCols: Seq[String], keyValues: Seq[Any]): DataFrame =
    LogMirror.lookup(spark, tableRoot, keyCols, keyValues)

  /** The log layout versions natively: the latest manifest id IS the
    * last merged batch id. */
  override def lastBatchId(spark: SparkSession,
                           tableRoot: String): Option[Long] = {
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    LogMirror.latestManifest(fs, tableRoot).flatMap(LogMirror.manifestId)
  }
}
