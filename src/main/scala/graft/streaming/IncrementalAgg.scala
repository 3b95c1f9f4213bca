package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope

/** Incremental maintenance of grouped COUNT/SUM/MIN/MAX aggregates from
  * a CDC change stream — delta maintenance of a materialized view.
  *
  * Each change event contributes signed deltas derived from its images
  * (reference emits before-images in binlog row mode,
  * register-mysql-connector.json:4-12):
  *
  *   op c/r : +1 count, +after.vals   (insert / snapshot read)
  *   op u   : +after.vals AND -before.vals — if the update moves the
  *            row between groups this naturally emits -1 on the old
  *            group and +1 on the new one
  *   op d   : -1 count, -before.vals
  *
  * The per-batch deltas hash-aggregate to ONE row per touched group
  * (map-side combine), then merge into the running state keyed by
  * group. Per-batch cost is ∝ groups touched, NOT mirror size — at
  * 100 TB this is the difference between an O(batch) update and
  * re-scanning the whole mirror per trigger.
  *
  * Semantics and limits (classic view-maintenance theory):
  *   - COUNT/SUM (and read-time AVG = sum/count) are self-maintainable
  *     given before-images. MIN/MAX are NOT under deletes (a retracted
  *     extremum needs the runner-up) — [[merge]] handles them with a
  *     dirty-group recompute against the post-batch mirror.
  *   - Delta application is NOT idempotent: replaying a batch
  *     double-counts. Run it inside foreachBatch exactly-once (commit
  *     state transactionally with the batchId; skip already-applied
  *     ids on restart) — same discipline CdcPipeline uses for merges.
  *   - Tombstones (null value, no images) contribute nothing: the
  *     op='d' event that precedes them already carried the delete
  *     (Envelope.scala tombstone note).
  */
object IncrementalAgg {

  /** groupCols/sumCols/maxCols/minCols name fields of the row schema
    * carried in the envelope images. `maxCols`/`minCols` maintain
    * per-group extrema — the reference's own integrity probe is
    * `MAX(id)` per table (cdc_data_integrity_dynamic_dag.py:50), here
    * kept continuously instead of re-queried on a cron. Extrema are not
    * self-maintainable under deletes (a retracted max needs the
    * runner-up), so merging flags "dirty" groups — ones whose retracted
    * value could have been the extremum — and recomputes ONLY those
    * from the mirror: O(dirty groups' rows), never a full rescan.
    *
    * `distinctCols` maintain per-group distinct cardinalities as
    * mergeable HLL sketches (`hll_<c>` state columns, KBs per group).
    * Semantics:
    * distinct values EVER WRITTEN (inserts + update after-images) — a
    * sketch cannot retract, so deletes don't decrement and a row that
    * moves groups is counted in both. That is the "users ever active
    * per status" monitor shape, not current-state distinct. */
  /** `cellGroups` adds DERIVED grouping columns `cell_<src> =
    * <src> div <width>` (exact 64-bit integer division) — the
    * density-cell shape: grouping a key column into fixed-width cells
    * turns the view into an O(cells) key-density monitor maintained by
    * the same delta path (only touched cells update per batch), the
    * continuous form of the `quality_key_gaps` probe. */
  final case class Spec(groupCols: Seq[String], sumCols: Seq[String],
                        maxCols: Seq[String] = Nil,
                        minCols: Seq[String] = Nil,
                        distinctCols: Seq[String] = Nil,
                        cellGroups: Seq[(String, Long)] = Nil) {
    /** Effective grouping = declared columns + derived cell columns. */
    def allGroupCols: Seq[String] =
      groupCols ++ cellGroups.map { case (src, _) => s"cell_$src" }
  }

  /** Derive the cell columns from frames that carry the raw source
    * columns (mirror rows, unioned contribution rows). SQL `div` is
    * exact integer division — `floor(x / w)` would round through a
    * double and corrupt cells past 2^53. `nameOf` maps a cell source
    * to the column name carrying it in this frame. */
  private def withCells(df: DataFrame, spec: Spec,
                        nameOf: String => String = identity): DataFrame =
    spec.cellGroups.foldLeft(df) { case (d, (src, w)) =>
      d.withColumn(s"cell_$src", expr(s"`${nameOf(src)}` div ${w}L"))
    }

  /** Candidate-list depth per extremum — the bounded-history IVM
    * technique: state keeps the K best LIVE values per group plus a
    * low-water mark `lw` bounding the "unknown zone" (values at-or-
    * beyond lw may exist in the table without being listed). A
    * retracted extremum is then answered by the runner-up from the
    * list; the mirror is recomputed only when the list DRAINS (all K
    * best retracted before fresh inserts refill it) — O(1) amortized
    * mirror reads instead of one per retraction batch. A views sweep
    * (with the since-removed StreamSweep dev main) measured the per-retraction recompute as the dominant
    * extrema-view cost (drain 36k → 19k ev/s for ONE max view). */
  private[streaming] val CandK = 8

  /** Retractions shipped per (group, batch): beyond this the batch
    * falls back to a conservative dirty recompute (it may have
    * retracted something in the live zone that wasn't shipped). */
  private[streaming] val RetJ = 24

  /** One maintained extremum: the column it tracks + its direction.
    * State columns: `state` (presented scalar = cand head), `cand`
    * (the ≤K best live values, best-first), `lw` (unknown-zone
    * boundary; null = complete history, every live value is listed).
    * Delta columns: `ins`/`insDrop` (best K inserted values + the best
    * value the cap dropped), `reta`/`retDrop` (same for retractions).
    * Invariant maintained by [[merge]]: cand contains EVERY live value
    * strictly better than lw, plus possibly some copies EQUAL to lw
    * (all live values when lw is null); every unlisted live value is
    * at-or-beyond lw. Truncation keeps top-K INCLUSIVE of ties — a
    * strictly-better-than-cut filter would empty the list whenever the
    * extremum has ≥K+1 equal copies and present a silent NULL (the
    * head == lw is then the correct scalar: a live copy is listed). */
  private final case class Bound(src: String, isMax: Boolean) {
    val kind: String = if (isMax) "max" else "min"
    val state: String = s"${kind}_$src"
    val cand: String = s"_cand_$state"
    val lw: String = s"_lw_$state"
    val ins: String = s"_ins_$state"
    val insDrop: String = s"_insdrop_$state"
    val reta: String = s"_reta_$state"
    val retDrop: String = s"_retdrop_$state"
    /** sort best-first (max: descending, min: ascending). */
    def sortBest(a: Column): Column =
      if (isMax) reverse(array_sort(a)) else array_sort(a)
    /** x strictly closer to the extremum than y. */
    def better(x: Column, y: Column): Column = if (isMax) x > y else x < y
    /** widen the unknown zone to swallow a dropped value (null-safe:
      * greatest/least ignore nulls). */
    def widen(x: Column, y: Column): Column =
      if (isMax) greatest(x, y) else least(x, y)
  }

  private def bounds(spec: Spec): Seq[Bound] =
    spec.maxCols.map(Bound(_, isMax = true)) ++
      spec.minCols.map(Bound(_, isMax = false))

  /** Hidden per-bound state columns (kept in the view parquet, dropped
    * by the read surface). */
  private[graft] def hiddenCols(spec: Spec): Seq[String] =
    bounds(spec).flatMap(b => Seq(b.cand, b.lw))

  private def stateCols(spec: Spec): Seq[String] =
    "n_rows" +: (spec.sumCols.map(c => s"sum_$c") ++ bounds(spec).map(_.state) ++
      spec.distinctCols.map(c => s"hll_$c"))

  /** Signed, combined per-group deltas for one parsed envelope batch
    * (output: groupCols ++ n_rows ++ sum columns ++ per-bound
    * `_ins_*`/`_insdrop_*`/`_reta_*`/`_retdrop_*` candidate/retraction
    * lists; one row per touched group). */
  def deltas(parsed: DataFrame, spec: Spec): DataFrame = {
    val ok = Envelope.wellFormed(parsed)
      .filter(col("env.payload.op").isNotNull)
    val boundSrcs = (spec.maxCols ++ spec.minCols ++ spec.distinctCols).distinct
    def side(img: String, sign: Int, ops: Seq[String]) =
      ok.filter(col("env.payload.op").isin(ops: _*) &&
          col(s"env.payload.$img").isNotNull)
        .select(
          spec.groupCols.map(g => col(s"env.payload.$img.$g").as(g)) ++
            spec.cellGroups.map { case (src, _) =>
              col(s"env.payload.$img.$src").as(s"_cg_$src") } ++
            (lit(sign.toLong).as("_n") +:
              (spec.sumCols.map(c =>
                (col(s"env.payload.$img.$c") * sign).as(s"_s_$c")) ++
                boundSrcs.map(c =>
                  col(s"env.payload.$img.$c").as(s"_m_$c")))): _*)
    val contributions = withCells(
      side("after", 1, Seq("c", "r", "u"))
        .unionByName(side("before", -1, Seq("u", "d"))),
      spec, src => s"_cg_$src")
    val aggs = (sum(col("_n")).as("n_rows") +:
      spec.sumCols.map(c => sum(col(s"_s_$c")).as(s"sum_$c"))) ++
      // inserted- and retracted-side value lists ride the same hash
      // agg (the sign column plays the FILTER clause; collect_list
      // skips the nulls the `when` produces). Per-(group, batch) list
      // size is bounded by the batch itself — the trigger's
      // maxOffsetsPerTrigger backpressure cap in streaming — and the
      // projection below truncates to K/J before anything shuffles
      // onward.
      bounds(spec).flatMap(b => Seq(
        collect_list(when(col("_n") === 1, col(s"_m_${b.src}")))
          .as(s"_rawi_${b.state}"),
        collect_list(when(col("_n") === -1, col(s"_m_${b.src}")))
          .as(s"_rawr_${b.state}"))) ++
      // written-side (sign +1) values sketch per group — deletes and
      // before-images contribute nothing (sketches can't retract)
      spec.distinctCols.map(c =>
        hll_sketch_agg(when(col("_n") === 1, col(s"_m_$c"))).as(s"hll_$c"))
    val grouped = contributions.groupBy(spec.allGroupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    bounds(spec).foldLeft(grouped) { (df, b) =>
      val si = b.sortBest(col(s"_rawi_${b.state}"))
      val sr = b.sortBest(col(s"_rawr_${b.state}"))
      df.withColumn(b.ins, slice(si, 1, CandK))
        .withColumn(b.insDrop, try_element_at(si, lit(CandK + 1)))
        .withColumn(b.reta, slice(sr, 1, RetJ))
        .withColumn(b.retDrop, try_element_at(sr, lit(RetJ + 1)))
        .drop(s"_rawi_${b.state}", s"_rawr_${b.state}")
    }
  }

  /** Fold a delta frame into the running state; groups whose row count
    * reaches zero are dropped (their sum residue is definitionally
    * stale). Cost: one shuffle keyed by group over state ∪ delta.
    *
    * With `maxCols`/`minCols`, a group is DIRTY when a retracted value
    * could have been its extremum (≥ the merged max candidate / ≤ the
    * merged min candidate): those groups — and only those — are
    * recomputed from `mirrorRows` (the table's post-batch live rows),
    * semi-joined so the recompute cost is ∝ dirty groups' rows. Passing
    * no mirror with a dirty retraction fails loudly rather than serving
    * a silently-stale extremum. The dirty probe is one driver-side
    * emptiness check on the (tiny, ≤ touched groups) delta frame. */
  /** Remove ONE occurrence of `r` from array `acc` (multiset
    * semantics — `array_remove` would strip every copy). */
  private def removeFirst(acc: Column, r: Column): Column = {
    val pos = array_position(acc, r) // 0 when absent
    when(pos > lit(0L),
      concat(slice(acc, lit(1), (pos - 1).cast("int")),
        slice(acc, (pos + 1).cast("int"),
          greatest((size(acc).cast("long") - pos).cast("int"), lit(0)))))
      .otherwise(acc)
  }

  def merge(state: DataFrame, delta: DataFrame, spec: Spec,
            mirrorRows: Option[() => DataFrame] = None,
            cache: DataFrame => DataFrame = identity): DataFrame = {
    val bs = bounds(spec)
    val extra = bs.flatMap(b =>
      Seq(b.cand, b.lw, b.ins, b.insDrop, b.reta, b.retDrop))
    def arrT(b: Bound) = delta.schema(b.ins).dataType
    def elemT(b: Bound) =
      arrT(b).asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    // column types resolve from whichever side carries the column; the
    // hidden cand/lw types derive from the delta's ins list (covers the
    // bootstrap merge where state = delta.limit(0))
    def dtype(c: String) =
      state.schema.find(_.name == c).orElse(delta.schema.find(_.name == c))
        .map(_.dataType).getOrElse {
          val b = bs.find(x => c == x.cand || c == x.lw).get
          if (c == b.cand) arrT(b) else elemT(b)
        }
    def aligned(df: DataFrame) = {
      val cols = spec.allGroupCols ++ ("n_rows" +:
        (spec.sumCols.map(c => s"sum_$c") ++
          spec.distinctCols.map(c => s"hll_$c"))) ++ extra
      val withAll = cols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(dtype(c))))
      withAll.select(cols.map(col): _*)
    }
    // per group at most one state row and one delta row meet: max()
    // picks each side's (sole non-null) contribution; arrays are
    // orderable, so max works for the lists too
    val aggs = (sum(col("n_rows")).as("n_rows") +:
      spec.sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))) ++
      extra.map(c => max(col(c)).as(c)) ++
      // sketch union is register-wise max: associative and idempotent
      spec.distinctCols.map(c => hll_union_agg(col(s"hll_$c")).as(s"hll_$c"))
    val merged = aligned(state).unionByName(aligned(delta))
      .groupBy(spec.allGroupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_rows") > 0)
    if (bs.isEmpty) merged
    else {
      // candidate-list fold per bound (see Bound's invariant): admit
      // live-zone inserts, cap to K (raising lw), strike retractions,
      // flag DIRTY only when the list drains with an unknown zone or a
      // retraction may have landed beyond what was shipped/listed
      val withNew = bs.foldLeft(merged) { (df0, b) =>
        val empt = array().cast(arrT(b))
        val cand0 = coalesce(col(b.cand), empt)
        val lw0 = col(b.lw)
        val liveIns = filter(coalesce(col(b.ins), empt),
          v => lw0.isNull || b.better(v, lw0))
        val c1 = b.sortBest(concat(cand0, liveIns))
        val l1 = b.widen(lw0, col(b.insDrop))
        val dropV = try_element_at(c1, lit(CandK + 1))
        val l2 = b.widen(l1, dropV)
        // cap keeps top-K INCLUSIVE of values equal to the dropped cut
        // (kept values are provably >= l2 — liveIns values all >= any
        // non-trivial insDrop, cand0 values >= lw0); a strict filter
        // here would empty the list under >=K+1 equal extremum copies
        val c2 = when(dropV.isNull, c1).otherwise(slice(c1, 1, CandK))
        val df1 = df0.withColumn("_c2", c2).withColumn("_l2", l2)
        // retractions AT the low-water mark must also probe the list:
        // the inclusive cap can list copies equal to lw; a strike that
        // finds no listed copy is a legitimate no-op (an unlisted copy
        // at lw died — multiset-indistinguishable, nothing served from
        // it), counted by _eq below
        val liveRet = filter(coalesce(col(b.reta), empt),
          v => col("_l2").isNull || !b.better(col("_l2"), v))
        val df2 = df1.withColumn("_lr", liveRet)
          .withColumn("_c3",
            aggregate(col("_lr"), col("_c2"), (acc, r) => removeFirst(acc, r)))
        df2
          .withColumn(s"_dirty_${b.state}",
            (col(b.retDrop).isNotNull &&
              (col("_l2").isNull || b.better(col(b.retDrop), col("_l2")))) ||
              (size(col("_c3")) === 0 && col("n_rows") > 0 &&
                col("_l2").isNotNull) ||
              // strictly-live retractions must ALL strike (every live
              // value better than lw is listed); no-op strikes are only
              // legal up to the number of ==lw retractions — any excess
              // means the invariant broke upstream: recompute, never
              // serve
              (size(col("_lr")) - (size(col("_c2")) - size(col("_c3"))) >
                size(filter(col("_lr"), v => v === col("_l2")))))
          .withColumn(b.cand, col("_c3"))
          .withColumn(b.lw, col("_l2"))
          .drop("_c2", "_l2", "_lr", "_c3")
      }
      val dirtyFlags = bs.map(b => col(s"_dirty_${b.state}"))
      // the dirty probe below EVALUATES the fold once and the caller's
      // state write evaluates it again — callers pass `cache` (persist
      // + deferred unpersist) so the second pass reads the first
      val cachedNew = cache(withNew)
      val dirty = cachedNew.filter(dirtyFlags.reduce(_ || _))
        .select(spec.allGroupCols.map(col): _*)
      val resolved =
        if (dirty.isEmpty) cachedNew
        else {
          val mirror = mirrorRows.getOrElse(sys.error(
            "IncrementalAgg: extremum candidate list drained - needs " +
              s"mirrorRows to recompute dirty groups " +
              s"(${bs.map(_.state).mkString(",")})"))()
          val refill = candidateLists(
            withCells(mirror, spec).join(broadcast(dirty),
              spec.allGroupCols, "left_semi"),
            spec, "_re_")
          bs.foldLeft(cachedNew.join(refill, spec.allGroupCols, "left")) {
            (df, b) =>
              df.withColumn(b.cand,
                  when(col(s"_dirty_${b.state}"),
                    coalesce(col(s"_re_cand_${b.state}"),
                      array().cast(arrT(b))))
                    .otherwise(col(b.cand)))
                .withColumn(b.lw,
                  when(col(s"_dirty_${b.state}"), col(s"_re_lw_${b.state}"))
                    .otherwise(col(b.lw)))
                .drop(s"_re_cand_${b.state}", s"_re_lw_${b.state}")
          }
        }
      // presented scalar = head of the candidate list; drop the delta
      // and dirty transients, keep cand/lw as hidden state
      val outCols = spec.allGroupCols ++ stateCols(spec) ++ hiddenCols(spec)
      bs.foldLeft(resolved)((df, b) =>
          df.withColumn(b.state, try_element_at(col(b.cand), lit(1))))
        .select(outCols.map(col): _*)
    }
  }

  /** Per-group candidate lists + low-water marks for every bound,
    * computed from raw live rows via a SALTED two-level top-(K+1)
    * collect (no reducer ever lists more than its salt shard); the
    * (K+1)-th value becomes the low-water mark. Output: groupCols +
    * `<prefix>cand_<state>` / `<prefix>lw_<state>` per bound. Shared
    * by merge's dirty refill and [[rebuild]]. */
  private def candidateLists(rows: DataFrame, spec: Spec,
                             prefix: String): DataFrame = {
    val bs = bounds(spec)
    val salt = pmod(hash(bs.map(b => col(b.src)): _*), lit(64))
    val p1Aggs = bs.map(b =>
      slice(b.sortBest(collect_list(col(b.src))), 1, CandK + 1)
        .as(s"_p_${b.state}"))
    val lvl1 = rows
      .groupBy((spec.allGroupCols.map(col) :+ salt.as("_slt")): _*)
      .agg(p1Aggs.head, p1Aggs.tail: _*)
    val p2Aggs = bs.map(b =>
      flatten(collect_list(col(s"_p_${b.state}"))).as(s"_f_${b.state}"))
    bs.foldLeft(
      lvl1.groupBy(spec.allGroupCols.map(col): _*)
        .agg(p2Aggs.head, p2Aggs.tail: _*)) { (df, b) =>
      val cp1 = b.sortBest(col(s"_f_${b.state}"))
      val cut = try_element_at(cp1, lit(CandK + 1))
      // top-K INCLUSIVE of ties with the cut (see Bound's invariant):
      // the old strict filter emptied the refill whenever the extremum
      // had >=K+1 equal copies (they all salt into the same shard), so
      // the drain-dirty recompute reproduced the same empty list and
      // the view served NULL forever for that group
      df.withColumn(s"${prefix}cand_${b.state}", slice(cp1, 1, CandK))
        .withColumn(s"${prefix}lw_${b.state}", cut)
        .drop(s"_f_${b.state}")
    }
  }

  /** Rebuild the full view state from the table's CURRENT live rows —
    * the correct fallback when incremental folding is impossible: a
    * view registered mid-stream, or one that missed batches while the
    * pipeline ran without it (the gap guard in CdcPipeline). One
    * grouped pass + (with bounds) one salted candidate-list pass.
    * `distinctCols` sketches degrade to current-rows distincts (the
    * ever-written history is not recoverable from state). */
  def rebuild(mirrorRows: DataFrame, spec: Spec): DataFrame = {
    val bs = bounds(spec)
    val rows = withCells(mirrorRows, spec)
    val aggs = (count(lit(1)).as("n_rows") +:
      spec.sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
      spec.distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c"))
    val base = rows.groupBy(spec.allGroupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    if (bs.isEmpty) base
    else {
      val lists = candidateLists(rows, spec, "_cl_")
      val joined = bs.foldLeft(base.join(lists, spec.allGroupCols)) {
        (df, b) =>
          df.withColumn(b.cand, col(s"_cl_cand_${b.state}"))
            .withColumn(b.lw, col(s"_cl_lw_${b.state}"))
            .withColumn(b.state, try_element_at(col(b.cand), lit(1)))
            .drop(s"_cl_cand_${b.state}", s"_cl_lw_${b.state}")
      }
      joined.select(
        (spec.allGroupCols ++ stateCols(spec) ++ hiddenCols(spec)).map(col): _*)
    }
  }

  /** Convenience: maintain state over a sequence of parsed batches.
    * The final filter keeps the state invariant merge() maintains
    * (no zero-count groups) even in the single-batch case, where a
    * same-batch insert+delete would otherwise leave a phantom group.
    * (Extremum specs need the mirror-backed [[merge]] path instead.) */
  def maintain(batches: Seq[DataFrame], spec: Spec): Option[DataFrame] =
    batches.map(b => deltas(b, spec)).reduceOption((s, d) => merge(s, d, spec))
      .map(_.filter(col("n_rows") > 0))

  /** Read-time derived averages: avg_<c> = sum_<c> / n_rows. */
  def withAverages(state: DataFrame, spec: Spec): DataFrame =
    spec.sumCols.foldLeft(state)((df, c) =>
      df.withColumn(s"avg_$c", col(s"sum_$c") / col("n_rows")))

  /** Read-time distinct estimates from the maintained sketches:
    * distinct_<c> = estimate(hll_<c>); the raw sketch binaries are
    * dropped (they exist to be merged, not read). A group whose every
    * written value was null carries a null sketch → null estimate. */
  def withDistinctEstimates(state: DataFrame, spec: Spec): DataFrame =
    spec.distinctCols.foldLeft(state)((df, c) =>
      df.withColumn(s"distinct_$c",
          when(col(s"hll_$c").isNotNull, hll_sketch_estimate(col(s"hll_$c"))))
        .drop(s"hll_$c"))
}
