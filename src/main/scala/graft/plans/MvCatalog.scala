package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, IsNotNull, Literal, Not}
import org.apache.spark.sql.types.BooleanType

import graft.sinks.LogMirror

/** Registry of materialized aggregate views for transparent query
  * rewrite (see [[MvRewriteRule]]): each entry claims "`view` holds
  * exactly `GROUP BY groupCols` + `aggs` over the table at
  * `sourcePath`", the claim a warehouse records when it maintains a
  * summary table (here: [[graft.sinks.IncrementalAggView]]'s agg
  * mirror, or any precomputed rollup).
  *
  * Freshness is a FILE-LISTING FINGERPRINT of the source directory
  * (path, length, mtime of every data file, order-insensitive): on an
  * immutable-file data lake any change to the source shows up in its
  * listing, so a stale view simply stops matching and the query falls
  * through to the base table — no wrong answers, only lost
  * acceleration. Re-[[register]] after refreshing the view to resume
  * rewrites. The listing costs one metadata round per candidate
  * rewrite; views front tables that are expensive to AGGREGATE, not
  * expensive to list.
  */
object MvCatalog {

  /** Aggregate key: (function, source column) — `("count", "*")` for
    * `COUNT(*)`/`COUNT(1)`, `("count", "x")` for the non-null count
    * that also licenses the AVG(x) = sum/count derivation. */
  type AggKey = (String, String)

  final case class Entry(
      sourcePath: String, // qualified URI string of the source dir
      groupCols: Seq[String],
      aggs: Map[AggKey, String], // agg key -> view column name
      view: () => DataFrame, // fresh plan per call (fresh exprIds)
      fingerprint: String,
      // version-based freshness override (maintained views): when set,
      // it replaces the file-listing compare entirely
      freshCheck: Option[SparkSession => Boolean] = None,
      // the predicate family the view is BUILT UNDER: matching filter
      // conjuncts in a query are absorbed (the view already reflects
      // them) and the core predicate is REQUIRED (a query without it
      // reads different rows than the view and must not rewrite)
      sourcePredicate: Option[SourcePredicate] = None)

  /** A source-row predicate a view claim is built under (e.g. "live
    * mirror rows only"). */
  trait SourcePredicate extends Serializable {
    /** is this filter conjunct already reflected in the view's rows? */
    def absorbs(e: Expression): Boolean
    /** does the query's conjunct set include the claim's core
      * predicate? */
    def satisfied(conjuncts: Seq[Expression]): Boolean
  }

  /** The mirror-live predicate `NOT _v_deleted` (what
    * `Materialize.stripVersions` applies and every maintained agg view
    * is built under) — plus the `IsNotNull` conjunct the optimizer
    * infers from it. */
  object LiveMirrorRows extends SourcePredicate {
    private val flag = graft.cdc.Materialize.deletedFlag
    private def isNotDeleted(e: Expression): Boolean = e match {
      case Not(a: AttributeReference) => a.name == flag
      case EqualTo(a: AttributeReference, Literal(false, BooleanType)) =>
        a.name == flag
      case EqualTo(Literal(false, BooleanType), a: AttributeReference) =>
        a.name == flag
      case _ => false
    }
    override def absorbs(e: Expression): Boolean = isNotDeleted(e) || (e match {
      case IsNotNull(a: AttributeReference) => a.name == flag
      case _ => false
    })
    override def satisfied(conjuncts: Seq[Expression]): Boolean =
      conjuncts.exists(isNotDeleted)
  }

  /** Claim "`view` holds exactly `fact ⋈_joinKeys dim` (inner,
    * same-named equi keys — [[graft.sinks.IncrementalJoinView]]'s
    * contract) at ROW grain". [[MvRewriteRule]] then replaces the whole
    * matching Join subtree, so ANY aggregate or consumer over the join
    * accelerates — the Aggregate-over-join case composes for free
    * (transformUp rewrites the join first, and an agg-view claim over
    * the join view can rewrite the aggregate above it). */
  final case class JoinEntry(
      factPath: String, dimPath: String,
      joinKeys: Seq[String],
      view: () => DataFrame,
      fingerprint: String,
      freshCheck: Option[SparkSession => Boolean] = None,
      sourcePredicate: Option[SourcePredicate] = None)

  /** Claim "`view` holds, for every group of `partitionCols`, the rows
    * ranked 1..k under `ordering` (row_number semantics — ties broken
    * by the ordering's own tie-break columns), flat rows with a
    * 1-based integer `rankCol`" — the incrementally-maintained
    * leaderboard ([[graft.functions.TopK.TopKAggregator]] /
    * [[graft.sinks.IncrementalAggView]]) as a rewrite target for the
    * window-top-n query shape (`row_number().over(...)` + `rn <= n`,
    * n ≤ k). One claim per source path. */
  final case class TopKEntry(
      sourcePath: String,
      partitionCols: Seq[String],
      ordering: Seq[(String, Boolean)], // (column name, descending?)
      k: Int,
      rankCol: String,
      view: () => DataFrame,
      fingerprint: String,
      freshCheck: Option[SparkSession => Boolean] = None,
      sourcePredicate: Option[SourcePredicate] = None)

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val joinEntries = new ConcurrentHashMap[(String, String), JoinEntry]()
  private val topkEntries = new ConcurrentHashMap[String, TopKEntry]()

  private[plans] def qualify(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toString
  }

  /** Order-insensitive signature of the source's current data files. */
  private[plans] def listingFingerprint(spark: SparkSession,
                                        dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "<missing>"
    val it = fs.listFiles(p, true)
    val sigs = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      // _SUCCESS / .crc churn is not data change
      if (!name.startsWith("_") && !name.startsWith("."))
        sigs += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    sigs.sorted.mkString("\n").hashCode.toString + ":" + sigs.size
  }

  /** Register (or refresh) a view claim. Call again after every view
    * refresh — the fingerprint is captured NOW, so source changes
    * after this call disable the rewrite until the next register. */
  def register(spark: SparkSession, sourceDir: String,
               groupCols: Seq[String], aggs: Map[AggKey, String],
               view: () => DataFrame): Unit = {
    require(groupCols.nonEmpty && aggs.nonEmpty,
      "a materialized view needs group columns and aggregates")
    val q = qualify(spark, sourceDir)
    entries.put(q,
      Entry(q, groupCols, aggs, view, listingFingerprint(spark, sourceDir)))
  }

  def unregister(spark: SparkSession, sourceDir: String): Unit =
    entries.remove(qualify(spark, sourceDir))

  /** Register (or refresh) a row-grain JOIN-view claim. Freshness
    * defaults to the combined file-listing fingerprint of BOTH source
    * dirs (any change to either side falls the query through);
    * `freshCheck` overrides it for version-maintained views — e.g. an
    * [[graft.sinks.IncrementalJoinView]] whose cursor versions must
    * equal the source mirrors' current versions. `sourcePredicate` declares the
    * per-side row predicate the view is built under (mirror reads are
    * `NOT _v_deleted`-filtered scans — pass [[LiveMirrorRows]]). */
  def registerJoin(spark: SparkSession, factDir: String, dimDir: String,
                   joinKeys: Seq[String], view: () => DataFrame,
                   freshCheck: Option[SparkSession => Boolean] = None,
                   sourcePredicate: Option[SourcePredicate] = None): Unit = {
    require(joinKeys.nonEmpty, "a join view needs equi-join key columns")
    val (qf, qd) = (qualify(spark, factDir), qualify(spark, dimDir))
    joinEntries.put((qf, qd), JoinEntry(qf, qd, joinKeys, view,
      listingFingerprint(spark, factDir) + "|" +
        listingFingerprint(spark, dimDir),
      freshCheck, sourcePredicate))
  }

  def unregisterJoin(spark: SparkSession, factDir: String,
                     dimDir: String): Unit =
    joinEntries.remove((qualify(spark, factDir), qualify(spark, dimDir)))

  /** Register (or refresh) a top-k leaderboard claim. `ordering` must
    * be the EXACT sort the leaderboard was built under, including its
    * tie-break columns — a query ordering differently reads a
    * different top-k and must fall through. The view must expose
    * `partitionCols`, every column a rewritten query projects, and a
    * 1-based IntegerType `rankCol`. */
  def registerTopK(spark: SparkSession, sourceDir: String,
                   partitionCols: Seq[String],
                   ordering: Seq[(String, Boolean)], k: Int,
                   rankCol: String, view: () => DataFrame,
                   freshCheck: Option[SparkSession => Boolean] = None,
                   sourcePredicate: Option[SourcePredicate] = None): Unit = {
    require(partitionCols.nonEmpty && ordering.nonEmpty && k > 0,
      "a top-k view needs partition columns, an ordering and k > 0")
    val q = qualify(spark, sourceDir)
    topkEntries.put(q, TopKEntry(q, partitionCols, ordering, k, rankCol,
      view, listingFingerprint(spark, sourceDir), freshCheck,
      sourcePredicate))
  }

  def unregisterTopK(spark: SparkSession, sourceDir: String): Unit =
    topkEntries.remove(qualify(spark, sourceDir))

  def clear(): Unit = {
    entries.clear(); joinEntries.clear(); topkEntries.clear()
  }

  // Maintenance bypass: a view REFRESH recomputes the view from its
  // sources — if that read were rewritten, it would read the stale
  // view it is about to overwrite (self-referential refresh: observed
  // as FILE_NOT_EXIST mid-overwrite, or silently frozen content).
  // Spark optimizes lazily on the action's calling thread, so a
  // thread-local flag scopes the bypass to exactly the refresh job.
  private val bypass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Run `body` (a view-maintenance read/write) with the rewrite rule
    * disabled on this thread. */
  def suspended[T](body: => T): T = {
    // restore the PRIOR value, not `false`: a nested refresh (a rollup
    // refresh that itself refreshes the join view it reads — the
    // star-rollup chain) must not re-enable the rewrite for the
    // remainder of the outer body
    val prev = bypass.get()
    bypass.set(true)
    try body finally bypass.set(prev)
  }

  private[plans] def isBypassed: Boolean = bypass.get()

  private[plans] def isEmpty: Boolean =
    entries.isEmpty && joinEntries.isEmpty && topkEntries.isEmpty

  /** The top-k entry for a source location, only while fresh. */
  private[plans] def freshTopKEntry(spark: SparkSession,
                                    qualified: String): Option[TopKEntry] =
    Option(topkEntries.get(qualified)).filter(e =>
      e.freshCheck.map(_(spark)).getOrElse(
        listingFingerprint(spark, qualified) == e.fingerprint))

  /** The join entry for a (fact, dim) location pair, only while fresh. */
  private[plans] def freshJoinEntry(spark: SparkSession, factQ: String,
                                    dimQ: String): Option[JoinEntry] =
    Option(joinEntries.get((factQ, dimQ))).filter(e =>
      e.freshCheck.map(_(spark)).getOrElse(
        listingFingerprint(spark, factQ) + "|" +
          listingFingerprint(spark, dimQ) == e.fingerprint))

  /** The entry for a source location, only if its fingerprint still
    * matches the directory's current listing. */
  private[plans] def freshEntry(spark: SparkSession,
                                qualified: String): Option[Entry] =
    Option(entries.get(qualified)).filter(e =>
      e.freshCheck.map(_(spark))
        .getOrElse(listingFingerprint(spark, qualified) == e.fingerprint))

  /** Register a PIPELINE-MAINTAINED aggregate view
    * ([[graft.streaming.IncrementalAgg]] state kept by
    * `CdcPipeline.updateAggView`) as a rewrite target for queries that
    * aggregate the table's mirror directly. Freshness is VERSION-based
    * instead of file listings: the view state's manifest version (the
    * last batch id it applied) must equal the mirror's last merged
    * batch id (`MirrorSink.lastBatchId`: the log layout's manifest id)
    * — a mirror merge the view hasn't folded yet makes the claim stale,
    * and queries fall through to the base scan until the view catches
    * up.
    * Registered aggregates: `count(*)` → n_rows plus the spec's
    * sum/max/min columns (HLL distinct sketches are not relational
    * aggregates and are not claimed).
    *
    * The claim is keyed by the table's mirror root: an aggregate over
    * `LogMirror.read` of that root rewrites when its scans are exactly
    * the current manifest's segments
    * ([[graft.sinks.LogMirror.rootOfRead]]) and it keeps only live rows
    * (`NOT _v_deleted`, absorbed by [[LiveMirrorRows]]). A versioned
    * read, a time-travel window or a raw segment scan never matches. */
  def registerMaintained(spark: SparkSession,
                         cfg: graft.streaming.CdcPipeline.Config,
                         viewName: String): Unit = {
    val v = cfg.aggViews(viewName)
    val spec = v.spec
    val tableRoot = s"${cfg.mirrorRoot}/${v.table}"
    val viewRoot = graft.streaming.CdcPipeline.viewRoot(cfg, viewName)
    val aggs: Map[AggKey, String] =
      (Map[AggKey, String](("count", "*") -> "n_rows") ++
        spec.sumCols.map(c => (("sum", c): AggKey) -> s"sum_$c") ++
        spec.maxCols.map(c => (("max", c): AggKey) -> s"max_$c") ++
        spec.minCols.map(c => (("min", c): AggKey) -> s"min_$c"))
    // two manifest listings, no Spark job; no state yet = stale
    val fresh: SparkSession => Boolean = sp =>
      cfg.mirrorSink.lastBatchId(sp, tableRoot).exists(mb =>
        LogMirror.currentVersion(sp, viewRoot).contains(mb))
    val q = qualify(spark, tableRoot)
    // the claim's grain is the view's EFFECTIVE grouping — declared
    // columns PLUS derived cell columns: claiming only groupCols would
    // let a coarser query take the exact-match projection path and
    // read one row per cell (silently wrong grain). Cell columns can
    // never appear in a mirror query (they don't exist on the table),
    // so cell views serve only the coarser re-aggregate path — which
    // is correct: cells partition the rows disjointly.
    entries.put(q, Entry(q, spec.allGroupCols, aggs,
      () => LogMirror.read(spark, viewRoot).drop(
        graft.streaming.IncrementalAgg.hiddenCols(spec) ++
          spec.distinctCols.map(c => s"hll_$c"): _*),
      fingerprint = "<maintained>", freshCheck = Some(fresh),
      sourcePredicate = Some(LiveMirrorRows)))
  }
}
