package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caching.persistOnce
import graft.core.Tables.load

/** Advanced relational surface (SURVEY §2.5/§2.7/§2.8 extensions):
  * as-of join, session/sliding time windows, statistical aggregates,
  * pivot, generators, and the remaining scalar-function families. */
object AdvancedQueries {

  /** Planted classifier labels/milli-scores from the md5 hash RNG —
    * the ONE copy of the derivation shared by eval_auc_brier /
    * eval_calibration_bins / eval_isotonic_calibration (their oracles
    * replay the identical text): l = md5 parity, s = 0.6·u + 0.4·l·1000
    * in integer milli-units, so positives shift +0.4 and both metrics
    * stay non-degenerate at every SF. */
  private def plantedScores(s: org.apache.spark.sql.SparkSession,
                            d: String): DataFrame =
    load(s, d, "events")
      .select(col("event_id").cast("string").as("k"))
      .select(
        (conv(substring(md5(concat(lit("lbl|"), col("k"))), 1, 1),
          16, 10).cast("int") % 2).as("l"),
        (conv(substring(md5(concat(lit("scr|"), col("k"))), 1, 3),
          16, 10).cast("int") % 1000).as("u"))
      .select(col("l"), (expr("(u * 6) DIV 10") + col("l") * 400).as("s"))

  def queries: Seq[Q] = Seq(
    // ---- as-of join (temporal lookup) --------------------------------
    Q("join_asof",
      (s, d) => {
        val events = load(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        // one deterministic right row per (key, time)
        val orderVersions = load(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("asof_orderkey"),
               max_by(col("o_totalprice"), col("o_orderkey")).as("asof_total"))
        AsofJoin(events, orderVersions,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightPayload = Seq("asof_orderkey", "asof_total"))
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderdate,
             |         max(o_orderkey) AS asof_orderkey,
             |         arg_max(o_totalprice, o_orderkey) AS asof_total
             |  FROM orders GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.ts, r.asof_orderkey, r.asof_total
             |FROM events e ASOF LEFT JOIN r
             |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin),
      "as-of join composed from union + last_value-ignoreNulls over one " +
        "(key,time) sort — one shuffle, no range explosion"),

    // The same as-of contract through the NATIVE operator path
    // (plans/AsofJoinNative.scala: custom LogicalPlan + SparkStrategy +
    // SparkPlan with declared distribution/ordering requirements — the
    // SURVEY §2.10 preference-(c) route). One forward merge pass per
    // co-partitioned sorted partition, O(1) state, no union padding and
    // no window; EnsureRequirements plans the two key exchanges exactly
    // as it does for SortMergeJoin, and AQE coalesces both sides
    // consistently (partition-parity pinned in AsofJoinNativeSpec).
    // Identical oracle to join_asof — DuckDB's ASOF LEFT JOIN is the
    // independent formulation both implementations must match.
    Q("join_asof_native",
      (s, d) => {
        val events = load(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val versions = load(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("asof_orderkey"),
            max_by(col("o_totalprice"), col("o_orderkey")).as("asof_total"))
          .select(col("o_custkey"),
            col("o_orderdate").cast("timestamp").as("vt"),
            col("asof_orderkey"), col("asof_total"))
        graft.plans.AsofJoinNative(events, versions,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "vt",
          rightPayload = Seq("asof_orderkey", "asof_total"))
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderdate,
             |         max(o_orderkey) AS asof_orderkey,
             |         arg_max(o_totalprice, o_orderkey) AS asof_total
             |  FROM orders GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.ts, r.asof_orderkey, r.asof_total
             |FROM events e ASOF LEFT JOIN r
             |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin),
      "native sort-merge as-of exec (LogicalPlan+Strategy+SparkPlan): " +
        "one merge pass over co-partitioned sorted sides — same oracle " +
        "as the composed form, checked independently via DuckDB ASOF"),

    // The BROADCAST mode of the native as-of exec — the dimension-
    // history enrichment shape at 100 TB: a versioned rate table (42
    // rows here; broadcast-sized by contract) enriches every fact row
    // point-in-time WITHOUT touching the fact side's partitioning: no
    // exchange and no sort on the big side, one binary search per row
    // against the per-key time-sorted broadcast index. The only
    // hashpartitioning exchange in the whole plan is the final 42-group
    // rollup (pinned in PlanAuditSpec). Charges stay integer (cents ×
    // basis points) so the rollup is engine-exact.
    Q("join_asof_broadcast",
      (s, d) => {
        val facts = load(s, d, "orders").select(
          (col("o_orderkey") % 7).as("cur"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
            .cast("long").as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val rates = s.range(0, 42).select(
          (col("id") % 7).as("r_cur"),
          expr("id div 7").as("v"),
          (lit(8000L) + expr("id div 7") * 500L).as("vd"),
          ((col("id") % 7 + 1) * 10000L + expr("id div 7") * 37L)
            .as("rate_bp"))
        graft.plans.AsofJoinNative(facts, rates,
          leftKey = "cur", rightKey = "r_cur",
          leftTime = "day", rightTime = "vd",
          rightPayload = Seq("v", "rate_bp"),
          mode = "broadcast")
          .groupBy(col("cur"), col("v"), col("rate_bp"))
          // cents×basis-point summands reach ~3.5e12: a long charge
          // wraps near 2.6e6 rows PER GROUP (~sf70 total) — the
          // charge accumulates in DECIMAL(38,0) on both engines, and
          // SHIPS as a STRING: a raw DECIMAL output column hashes by
          // renderer (Python repr(Decimal) is exponent-sensitive), so
          // equal values can hash-split across comparator environments
          // — the r12 driver red. Digit-string rendering is identical
          // everywhere; exactness already came from the DECIMAL sum.
          .agg(count(lit(1)).as("n"),
            sum(col("cents").cast("decimal(19,0)") *
              col("rate_bp").cast("decimal(19,0)"))
              .cast("string").as("charge"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey % 7 AS cur,
             |    date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS day,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |x AS (
             |  SELECT cur, cents, least(5, (day - 8000) // 500) AS v
             |  FROM o)
             |SELECT cur, v, (cur + 1) * 10000 + v * 37 AS rate_bp,
             |  count(*) AS n,
             |  CAST(CAST(sum(CAST(cents AS DECIMAL(19,0)) *
             |    CAST((cur + 1) * 10000 + v * 37 AS DECIMAL(19,0)))
             |    AS DECIMAL(38,0)) AS VARCHAR) AS charge
             |FROM x GROUP BY 1, 2""".stripMargin),
      "broadcast as-of exec: versioned dim history broadcast + per-row " +
        "binary search — zero exchanges on the fact side, upstream " +
        "partitioning preserved; oracle derives the version index " +
        "arithmetically"),

    // The AS-OF ANTI shape — the SLA/staleness monitor: which errors
    // were never followed by a purchase within the tolerance window
    // ("unresolved within a day")? The native forward+tolerance as-of
    // exec answers it with ONE merge pass (a null payload IS the
    // no-match verdict), where the naive formulation is a range join +
    // distinct. Per-user rollup after; both match and no-match paths
    // are populated at every gate SF (124/201 unresolved at sf0.001).
    Q("join_asof_unmatched",
      (s, d) => {
        val ev = load(s, d, "events")
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
        val pur = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        graft.plans.AsofJoinNative(err, pur,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          rightPayload = Seq("purchase_id"),
          direction = "forward", toleranceSec = Some(86400L))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_errors"),
            sum(col("purchase_id").isNull.cast("long")).as("n_unresolved"))
      },
      Some("""WITH err AS (
             |  SELECT event_id AS error_id, user_id, ts FROM events
             |  WHERE event_type = 'error'),
             |pur AS (
             |  SELECT DISTINCT user_id AS p_user, ts AS p_ts FROM events
             |  WHERE event_type = 'purchase'),
             |m AS (
             |  SELECT e.error_id, e.user_id, count(p.p_ts) AS nm
             |  FROM err e LEFT JOIN pur p ON p.p_user = e.user_id
             |    AND p.p_ts >= e.ts AND p.p_ts <= e.ts + INTERVAL 1 DAY
             |  GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_errors,
             |  CAST(sum(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_unresolved
             |FROM m GROUP BY 1""".stripMargin),
      "as-of ANTI via the native forward+tolerance exec: unresolved-" +
        "within-window monitoring in one merge pass, null payload = " +
        "no-match; oracle replays via a bounded range join"),

    // THEIL INDEX with between/within decomposition — the inequality
    // measure Gini can't decompose: how concentrated is corpus volume,
    // and is the concentration BETWEEN languages (source imbalance —
    // fix the mix) or WITHIN them (a few huge docs — cap lengths)?
    // T = T_between + Σ_g share_g·T_g holds exactly. Scale shape: one
    // lang rollup broadcast back (map-side μ_g), one per-row log term,
    // one lang-grain agg — the corpus never shuffles by row. Per-group
    // sums of log terms are order-unstable doubles → rounded 6dp after
    // the final division (catalog contract); means/shares are exact
    // integer ratios.
    Q("agg_theil_decomposition",
      (s, d) => {
        val docs = load(s, d, "documents")
          .filter(col("n_chars") > 0)
          .select(col("lang"), col("n_chars").cast("long").as("x"))
        val g = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
        val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
        val withMu = docs.join(broadcast(g), Seq("lang"))
          .withColumn("mu_g", col("sg").cast("double") / col("ng"))
          .withColumn("term",
            (col("x") / col("mu_g")) * log(col("x") / col("mu_g")))
        withMu.groupBy(col("lang"), col("ng"), col("sg"))
          .agg(sum(col("term")).as("tsum"))
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("ng"),
            round(col("sg").cast("double") / col("ng"), 4).as("mean_g"),
            round(col("tsum") / col("ng"), 6).as("theil_within"),
            round((col("ng").cast("double") / col("n")) *
              ((col("sg").cast("double") / col("ng")) /
                (col("st").cast("double") / col("n"))) *
              log((col("sg").cast("double") / col("ng")) /
                (col("st").cast("double") / col("n"))), 6)
              .as("between_term"))
      },
      Some("""WITH docs AS (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS x
             |  FROM documents WHERE n_chars > 0),
             |g AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(x) AS BIGINT) AS sg
             |  FROM docs GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(ng) AS BIGINT) AS n,
             |    CAST(sum(sg) AS BIGINT) AS st
             |  FROM g),
             |terms AS (
             |  SELECT docs.lang, ng, sg,
             |    (x / (CAST(sg AS DOUBLE) / ng)) *
             |      ln(x / (CAST(sg AS DOUBLE) / ng)) AS term
             |  FROM docs JOIN g ON docs.lang = g.lang)
             |SELECT lang, ng,
             |  round(CAST(sg AS DOUBLE) / ng, 4) AS mean_g,
             |  round(sum(term) / ng, 6) AS theil_within,
             |  round((CAST(ng AS DOUBLE) / n) *
             |    ((CAST(sg AS DOUBLE) / ng) / (CAST(st AS DOUBLE) / n)) *
             |    ln((CAST(sg AS DOUBLE) / ng) / (CAST(st AS DOUBLE) / n)),
             |    6) AS between_term
             |FROM terms CROSS JOIN tot
             |GROUP BY lang, ng, sg, n, st""".stripMargin),
      "Theil inequality with between/within-language decomposition: " +
        "lang rollup broadcast back, one per-row log term, one " +
        "lang-grain agg — tells source imbalance from in-source skew"),

    // McNEMAR'S PAIRED TEST — the correct significance test when two
    // classifiers are scored on the SAME documents (the independent-
    // samples tests overstate significance on paired data): only the
    // DISCORDANT pairs carry information. Two rule classifiers against
    // a planted truth label; b = A-right/B-wrong, c = B-right/A-wrong;
    // χ² = (b−c)²/(b+c) plus the Edwards continuity correction — both
    // single divisions of exact integers, unrounded. One map-side pass
    // + a 1-row aggregate; nothing shuffles but four counters.
    Q("eval_mcnemar",
      (s, d) => {
        val t = load(s, d, "documents").select(
          (col("doc_id") % 3 =!= 0).as("truth"),
          (col("n_chars") >= 200).as("pa"),
          ((col("n_chars") + col("doc_id")) % 997 < 600).as("pb"))
        t.agg(
          sum(when(col("pa") === col("truth") &&
            col("pb") =!= col("truth"), 1L).otherwise(0L)).as("b"),
          sum(when(col("pb") === col("truth") &&
            col("pa") =!= col("truth"), 1L).otherwise(0L)).as("c"))
          .select(col("b"), col("c"),
            (((col("b") - col("c")) * (col("b") - col("c")))
              .cast("double") / (col("b") + col("c"))).as("chi2"),
            (((abs(col("b") - col("c")) - 1) *
              (abs(col("b") - col("c")) - 1)).cast("double") /
              (col("b") + col("c"))).as("chi2_corrected"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id % 3 <> 0 AS truth,
             |    n_chars >= 200 AS pa,
             |    (n_chars + doc_id) % 997 < 600 AS pb
             |  FROM documents),
             |m AS (
             |  SELECT
             |    CAST(sum(CASE WHEN pa = truth AND pb <> truth
             |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN pb = truth AND pa <> truth
             |      THEN 1 ELSE 0 END) AS BIGINT) AS c
             |  FROM t)
             |SELECT b, c,
             |  CAST((b - c) * (b - c) AS DOUBLE) / (b + c) AS chi2,
             |  CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
             |    / (b + c) AS chi2_corrected
             |FROM m""".stripMargin),
      "McNemar paired classifier test: discordant counts from one " +
        "map-side pass, χ² and continuity-corrected χ² as exact " +
        "integer-ratio divisions"),

    // COHEN'S KAPPA — chance-corrected agreement between two raters on
    // the same items, the label-quality gate every annotation pipeline
    // needs (raw percent agreement rewards the majority class; κ
    // doesn't). Two rule raters over documents; the whole computation
    // is the 2×2 confusion table from ONE map-side pass — κ is a fixed
    // chain over four exact integers (products stay < 2^63 to ~3e9
    // docs; past that, cast-then-multiply like the Welch moments).
    Q("eval_cohens_kappa",
      (s, d) => {
        val t = load(s, d, "documents").select(
          (col("n_chars") >= 200).as("ra"),
          ((col("doc_id") * 31) % 100 < 55).as("rb"))
        t.agg(
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
          .withColumn("n", col("n11") + col("n10") + col("n01") + col("n00"))
          .withColumn("po",
            (col("n11") + col("n00")).cast("double") / col("n"))
          .withColumn("pe",
            ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
              (col("n01") + col("n00")) * (col("n10") + col("n00")))
              .cast("double") / (col("n") * col("n")))
          .select(col("n11"), col("n10"), col("n01"), col("n00"),
            col("po"), col("pe"),
            ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
      },
      Some("""WITH t AS (
             |  SELECT n_chars >= 200 AS ra,
             |    (doc_id * 31) % 100 < 55 AS rb
             |  FROM documents),
             |m AS (
             |  SELECT
             |    CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n11,
             |    CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n10,
             |    CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n01,
             |    CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n00
             |  FROM t),
             |k AS (
             |  SELECT n11, n10, n01, n00,
             |    n11 + n10 + n01 + n00 AS n,
             |    CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS po,
             |    CAST((n11 + n10) * (n11 + n01) +
             |         (n01 + n00) * (n10 + n00) AS DOUBLE)
             |      / ((n11 + n10 + n01 + n00) *
             |         (n11 + n10 + n01 + n00)) AS pe
             |  FROM m)
             |SELECT n11, n10, n01, n00, po, pe,
             |  (po - pe) / (1.0 - pe) AS kappa
             |FROM k""".stripMargin),
      "Cohen's kappa from one map-side 2x2 confusion pass — " +
        "chance-corrected rater agreement, fixed integer-ratio chains"),

    // FLEISS' KAPPA — Cohen generalized to m raters (here 3 rule
    // raters, binary label): per-item agreement P_i =
    // (k² + (m−k)² − m)/(m(m−1)) where k = positive votes, so the
    // whole statistic reduces to THREE integer sums in one map-side
    // pass (N, Σk, Σ(k²+(3−k)²)) and fixed double chains — no
    // per-item shuffle, no category pivot. The multi-annotator
    // agreement gate for labeling pipelines.
    Q("eval_fleiss_kappa",
      (s, d) => {
        val t = load(s, d, "documents").select(
          (when(col("n_chars") >= 200, 1L).otherwise(0L) +
            when((col("doc_id") * 31) % 100 < 55, 1L).otherwise(0L) +
            when((col("n_chars") + col("doc_id") * 7) % 13 < 7, 1L)
              .otherwise(0L)).as("k"))
        t.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
            sum(col("k") * col("k") +
              (lit(3L) - col("k")) * (lit(3L) - col("k"))).as("sq"))
          .withColumn("p_bar",
            (col("sq") - lit(3L) * col("n")).cast("double") /
              (lit(6L) * col("n")))
          .withColumn("p_pos",
            col("sk").cast("double") / (lit(3L) * col("n")))
          .withColumn("p_e",
            col("p_pos") * col("p_pos") +
              (lit(1.0) - col("p_pos")) * (lit(1.0) - col("p_pos")))
          .select(col("n"), col("sk"), col("p_bar"), col("p_e"),
            ((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
              .as("kappa"))
      },
      Some("""WITH t AS (
             |  SELECT
             |    (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) +
             |    (CASE WHEN (doc_id * 31) % 100 < 55 THEN 1 ELSE 0 END) +
             |    (CASE WHEN (n_chars + doc_id * 7) % 13 < 7
             |          THEN 1 ELSE 0 END) AS k
             |  FROM documents),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(k) AS BIGINT) AS sk,
             |    CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS sq
             |  FROM t),
             |x AS (
             |  SELECT n, sk,
             |    CAST(sq - 3 * n AS DOUBLE) / (6 * n) AS p_bar,
             |    CAST(sk AS DOUBLE) / (3 * n) AS p_pos
             |  FROM m)
             |SELECT n, sk, p_bar,
             |  p_pos * p_pos + (1.0 - p_pos) * (1.0 - p_pos) AS p_e,
             |  (p_bar - (p_pos * p_pos + (1.0 - p_pos) * (1.0 - p_pos)))
             |    / (1.0 - (p_pos * p_pos +
             |       (1.0 - p_pos) * (1.0 - p_pos))) AS kappa
             |FROM x""".stripMargin),
      "Fleiss' kappa for 3 raters from three integer sums in one " +
        "map-side pass — multi-annotator agreement with no per-item " +
        "shuffle and no category pivot"),

    // CRONBACH'S ALPHA — internal-consistency reliability of a
    // multi-item instrument (here the 3 binary rule raters as items):
    // α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total). Every variance comes from the
    // same one-pass integer moments (Σx, Σx², Σ cross-products via the
    // total column), so the whole statistic is a fixed chain over nine
    // exact integers — completing the reliability trio next to
    // Cohen's and Fleiss' kappa. The long×long products stay inside
    // 2^63 to ~3e9 docs (binary items); wider instruments cast first.
    Q("eval_cronbach_alpha",
      (s, d) => {
        val t = load(s, d, "documents").select(
          when(col("n_chars") >= 200, 1L).otherwise(0L).as("x1"),
          when((col("doc_id") * 31) % 100 < 55, 1L).otherwise(0L).as("x2"),
          when((col("n_chars") + col("doc_id") * 7) % 13 < 7, 1L)
            .otherwise(0L).as("x3"))
          .withColumn("tot", col("x1") + col("x2") + col("x3"))
        val m = t.agg(count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x1") * col("x1")).as("q1"),
          sum(col("x2")).as("s2"), sum(col("x2") * col("x2")).as("q2"),
          sum(col("x3")).as("s3"), sum(col("x3") * col("x3")).as("q3"),
          sum(col("tot")).as("st"), sum(col("tot") * col("tot")).as("qt"))
        def v(q: String, sc: String) =
          (col(q).cast("double") - col(sc).cast("double") * col(sc) /
            col("n")) / (col("n") - 1)
        m.select(col("n"),
            (v("q1", "s1") + v("q2", "s2") + v("q3", "s3")).as("sum_vi"),
            v("qt", "st").as("v_tot"))
          .select(col("n"), col("sum_vi"), col("v_tot"),
            ((lit(3.0) / 2.0) * (lit(1.0) - col("sum_vi") / col("v_tot")))
              .as("alpha"))
      },
      Some("""WITH t AS (
             |  SELECT
             |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS x1,
             |    CASE WHEN (doc_id * 31) % 100 < 55 THEN 1 ELSE 0 END
             |      AS x2,
             |    CASE WHEN (n_chars + doc_id * 7) % 13 < 7
             |         THEN 1 ELSE 0 END AS x3
             |  FROM documents),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x1) AS BIGINT) AS s1,
             |    CAST(sum(x1 * x1) AS BIGINT) AS q1,
             |    CAST(sum(x2) AS BIGINT) AS s2,
             |    CAST(sum(x2 * x2) AS BIGINT) AS q2,
             |    CAST(sum(x3) AS BIGINT) AS s3,
             |    CAST(sum(x3 * x3) AS BIGINT) AS q3,
             |    CAST(sum(x1 + x2 + x3) AS BIGINT) AS st,
             |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)
             |      AS qt
             |  FROM t),
             |vv AS (
             |  SELECT n,
             |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             |      / (n - 1) +
             |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
             |      / (n - 1) +
             |    (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n)
             |      / (n - 1) AS sum_vi,
             |    (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
             |      / (n - 1) AS v_tot
             |  FROM m)
             |SELECT n, sum_vi, v_tot,
             |  (3.0 / 2.0) * (1.0 - sum_vi / v_tot) AS alpha
             |FROM vv""".stripMargin),
      "Cronbach's alpha over the 3 rule raters: nine exact integer " +
        "moments in one pass, fixed variance chains — the " +
        "internal-consistency member of the reliability trio"),

    // ---- session windows ---------------------------------------------
    Q("window_session",
      (s, d) => load(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events")),
      Some("""WITH s AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (
             |  SELECT user_id, ts,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM s)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end,
             |  count(*) AS n_events
             |FROM g GROUP BY user_id, sid""".stripMargin),
      "ST5 session windows; oracle via gaps-and-islands SQL"),

    // ---- MATCH_RECOGNIZE emulation (row-pattern matching) ------------
    // The SQL:2016 / Flink / Oracle MATCH_RECOGNIZE feature Spark
    // lacks: detect pattern DOWN{2,} UP{2,} (a V-shaped dip-and-
    // recover) in each user's metric sequence. Instead of an NFA over
    // rows, the pattern compiles to gaps-and-islands algebra: per-row
    // direction vs lag → run ids from direction changes → one rollup
    // to O(runs) rows → adjacent-run pairing via lead. Every window
    // and the rollup share the single user_id exchange (runs of a user
    // can't span partitions), state is bounded by runs not rows, and
    // a flat or missing step breaks adjacency exactly as the strict
    // DOWN/UP pattern semantics require. depth/recovery are single
    // subtractions (unrounded per the determinism contract).
    Q("window_match_recognize",
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val dir0 = load(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("pv", lag(col("value"), 1).over(wOrd))
          .withColumn("dir",
            when(col("pv").isNull, lit(9))
              .when(col("value") > col("pv"), lit(1))
              .when(col("value") < col("pv"), lit(-1))
              .otherwise(lit(0)))
        val runs = dir0
          .withColumn("chg",
            when(lag(col("dir"), 1).over(wOrd).isNull ||
              lag(col("dir"), 1).over(wOrd) =!= col("dir"), 1).otherwise(0))
          .withColumn("rid", sum(col("chg")).over(wOrd))
          .groupBy(col("user_id"), col("rid"))
          .agg(max(col("dir")).as("dir"), count(lit(1)).as("n"),
            min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
            max(col("value")).as("maxv"), min(col("value")).as("minv"))
        val wRun = Window.partitionBy(col("user_id")).orderBy(col("rid"))
        runs
          .withColumn("next_dir", lead(col("dir"), 1).over(wRun))
          .withColumn("next_n", lead(col("n"), 1).over(wRun))
          .withColumn("next_maxv", lead(col("maxv"), 1).over(wRun))
          .withColumn("next_minv", lead(col("minv"), 1).over(wRun))
          .withColumn("next_end", lead(col("end_ts"), 1).over(wRun))
          .filter(col("dir") === -1 && col("n") >= 2 &&
            col("next_dir") === 1 && col("next_n") >= 2)
          .select(col("user_id"), col("start_ts").as("down_start"),
            col("next_end").as("up_end"),
            col("n").cast("int").as("down_n"),
            col("next_n").cast("int").as("up_n"),
            (col("maxv") - col("minv")).as("depth"),
            (col("next_maxv") - col("next_minv")).as("recovery"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, value
             |  FROM events WHERE value IS NOT NULL),
             |d1 AS (
             |  SELECT *, CASE WHEN lag(value) OVER w IS NULL THEN 9
             |    WHEN value > lag(value) OVER w THEN 1
             |    WHEN value < lag(value) OVER w THEN -1
             |    ELSE 0 END AS dir
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |d2 AS (
             |  SELECT *, CASE WHEN lag(dir) OVER w IS NULL
             |      OR lag(dir) OVER w <> dir THEN 1 ELSE 0 END AS chg
             |  FROM d1
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |d3 AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS rid
             |  FROM d2),
             |runs AS (
             |  SELECT user_id, rid, max(dir) AS dir, count(*) AS n,
             |    min(ts) AS start_ts, max(ts) AS end_ts,
             |    max(value) AS maxv, min(value) AS minv
             |  FROM d3 GROUP BY 1, 2),
             |nxt AS (
             |  SELECT *, lead(dir) OVER w AS next_dir,
             |    lead(n) OVER w AS next_n,
             |    lead(maxv) OVER w AS next_maxv,
             |    lead(minv) OVER w AS next_minv,
             |    lead(end_ts) OVER w AS next_end
             |  FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY rid))
             |SELECT user_id, start_ts AS down_start, next_end AS up_end,
             |  CAST(n AS INTEGER) AS down_n, CAST(next_n AS INTEGER) AS up_n,
             |  maxv - minv AS depth, next_maxv - next_minv AS recovery
             |FROM nxt
             |WHERE dir = -1 AND n >= 2 AND next_dir = 1 AND next_n >= 2"""
        .stripMargin),
      "MATCH_RECOGNIZE emulation: DOWN{2,} UP{2,} row-pattern compiled " +
        "to gaps-and-islands runs + adjacent-run pairing — one user " +
        "exchange, state ∝ runs, strict pattern semantics preserved"),

    // ---- time-series gap fill (LOCF) ---------------------------------
    // Gaps-and-islands: longest run of CONSECUTIVE order dates per
    // customer. The islands form via the anchor trick — date minus
    // row_number is constant within a consecutive run — so the whole
    // computation is one customer-partitioned window pass plus two
    // keyed aggregations; no self-join per gap, no iteration, and every
    // shuffle keys on o_custkey (one co-partitioned lineage AQE keeps).
    // The classic sessionize-without-timestamps surface an analyst
    // expects an engine to plan well.
    Q("window_order_streaks",
      (s, d) => {
        val days = load(s, d, "orders")
          .select(col("o_custkey"), to_date(col("o_orderdate")).as("o_orderdate"))
          .distinct()
        val rn = row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate")))
        days.withColumn("anchor", date_sub(col("o_orderdate"), rn))
          .groupBy(col("o_custkey"), col("anchor"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("o_custkey"))
          .agg(max(col("len")).as("longest_streak"),
            count(lit(1)).as("n_streaks"))
      },
      Some("""WITH d AS (SELECT DISTINCT o_custkey,
             |  CAST(o_orderdate AS DATE) AS o_orderdate FROM orders),
             |r AS (SELECT o_custkey, o_orderdate,
             |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rn
             |  FROM d),
             |g AS (SELECT o_custkey, o_orderdate - CAST(rn AS INTEGER) AS anchor,
             |        count(*) AS len
             |      FROM r GROUP BY 1, 2)
             |SELECT o_custkey, max(len) AS longest_streak,
             |  count(*) AS n_streaks
             |FROM g GROUP BY 1""".stripMargin),
      "gaps-and-islands: longest consecutive-date run per customer via " +
        "the date-minus-row_number anchor — one window pass, all " +
        "shuffles customer-keyed"),

    // A sparse per-(type, day) revenue series is completed over a full
    // calendar spine, missing days forward-filled from the last
    // observation. Scale shape: the spine is types × days (tiny, built
    // from a 1-row bounds aggregate), the fill is ONE window pass per
    // type — no self-join, no per-gap work. Exact-cents sums keep the
    // filled values hash-identical across engines.
    Q("window_gap_fill",
      (s, d) => {
        val src = load(s, d, "events").filter(col("user_id") % 97 === 0)
        val daily = src
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val bounds = src.agg(min(to_date(col("ts"))).as("lo"),
          max(to_date(col("ts"))).as("hi"))
        val spine = src.select(col("event_type")).distinct()
          .crossJoin(bounds)
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("day"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(last(col("cents"), ignoreNulls = true).over(w), lit(0L))
              .as("cents_filled"),
            col("cents").isNotNull.as("observed"))
      },
      Some("""WITH src AS (SELECT * FROM events WHERE user_id % 97 = 0),
             |b AS (SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
             |             CAST(date_trunc('day', max(ts)) AS DATE) AS hi
             |      FROM src),
             |types AS (SELECT DISTINCT event_type FROM src),
             |spine AS (SELECT t.event_type, CAST(d.day AS DATE) AS day
             |  FROM types t, b, LATERAL (
             |    SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY))
             |      AS day) d),
             |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM src GROUP BY 1, 2)
             |SELECT s.event_type, s.day,
             |  coalesce(last_value(d.cents IGNORE NULLS) OVER (
             |    PARTITION BY s.event_type ORDER BY s.day
             |    ROWS UNBOUNDED PRECEDING), 0) AS cents_filled,
             |  CAST(d.cents IS NOT NULL AS BOOLEAN) AS observed
             |FROM spine s LEFT JOIN daily d USING (event_type, day)""".stripMargin),
      "calendar-spine gap fill with forward-fill (LOCF): one window " +
        "pass per series, spine from a 1-row bounds aggregate"),

    // ---- time-series linear interpolation ----------------------------
    // Same sparse spine as window_gap_fill, but gaps are LINEARLY
    // interpolated between the surrounding observations (edges backfill
    // / forward-fill). Two window passes per series (one backward, one
    // forward), no self-join. The lerp runs in double with an identical
    // op sequence in both engines, then rounds to integral cents, so
    // results stay hash-exact.
    Q("window_interpolate",
      (s, d) => {
        val src = load(s, d, "events").filter(col("user_id") % 97 === 0)
        val daily = src
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val bounds = src.agg(min(to_date(col("ts"))).as("lo"),
          max(to_date(col("ts"))).as("hi"))
        val spine = src.select(col("event_type")).distinct()
          .crossJoin(bounds)
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("day"))
        val base = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val joined = spine.join(daily, Seq("event_type", "day"), "left")
        val prevC = last(col("cents"), ignoreNulls = true).over(back)
        val prevD = last(when(col("cents").isNotNull, col("day")),
          ignoreNulls = true).over(back)
        val nextC = first(col("cents"), ignoreNulls = true).over(fwd)
        val nextD = first(when(col("cents").isNotNull, col("day")),
          ignoreNulls = true).over(fwd)
        joined.select(col("event_type"), col("day"),
          when(col("cents").isNotNull, col("cents"))
            .when(prevC.isNull, nextC)
            .when(nextC.isNull, prevC)
            .otherwise(round(prevC + (nextC - prevC) *
              (datediff(col("day"), prevD).cast("double") /
                datediff(nextD, prevD))).cast("long"))
            .as("cents_interp"),
          col("cents").isNotNull.as("observed"))
      },
      Some("""WITH src AS (SELECT * FROM events WHERE user_id % 97 = 0),
             |b AS (SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo,
             |             CAST(date_trunc('day', max(ts)) AS DATE) AS hi
             |      FROM src),
             |types AS (SELECT DISTINCT event_type FROM src),
             |spine AS (SELECT t.event_type, CAST(d.day AS DATE) AS day
             |  FROM types t, b, LATERAL (
             |    SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY))
             |      AS day) d),
             |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM src GROUP BY 1, 2),
             |j AS (
             |  SELECT s.event_type, s.day, d.cents,
             |    last_value(d.cents IGNORE NULLS) OVER wb AS prev_c,
             |    last_value(CASE WHEN d.cents IS NOT NULL THEN s.day END
             |      IGNORE NULLS) OVER wb AS prev_d,
             |    first_value(d.cents IGNORE NULLS) OVER wf AS next_c,
             |    first_value(CASE WHEN d.cents IS NOT NULL THEN s.day END
             |      IGNORE NULLS) OVER wf AS next_d
             |  FROM spine s LEFT JOIN daily d USING (event_type, day)
             |  WINDOW
             |    wb AS (PARTITION BY s.event_type ORDER BY s.day
             |           ROWS UNBOUNDED PRECEDING),
             |    wf AS (PARTITION BY s.event_type ORDER BY s.day
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT event_type, day,
             |  CAST(CASE WHEN cents IS NOT NULL THEN cents
             |    WHEN prev_c IS NULL THEN next_c
             |    WHEN next_c IS NULL THEN prev_c
             |    ELSE CAST(round(prev_c + (next_c - prev_c) *
             |      (CAST(day - prev_d AS DOUBLE) / (next_d - prev_d)))
             |      AS BIGINT) END AS BIGINT) AS cents_interp,
             |  CAST(cents IS NOT NULL AS BOOLEAN) AS observed
             |FROM j""".stripMargin),
      "linear interpolation across series gaps: two window passes " +
        "(backward + forward), edge gaps fall back to nearest " +
        "observation, lerp rounded to exact cents"),

    // ---- sliding windows ---------------------------------------------
    Q("window_sliding",
      (s, d) => load(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("v")),
      Some("""SELECT window_start, event_type, count(*) AS n,
             |  round(sum(value), 2) AS v
             |FROM (
             |  SELECT date_trunc('hour', ts) AS window_start, event_type, value
             |  FROM events
             |  UNION ALL
             |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
             |  FROM events) t
             |GROUP BY 1, 2""".stripMargin),
      "ST5 sliding windows (2h window, 1h slide): each event in 2 buckets"),

    // ---- statistical aggregates --------------------------------------
    Q("agg_stats",
      (s, d) => load(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd"),
          round(var_samp(col("value")), 4).as("vr"),
          round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("cv"),
          round(corr(col("value"), col("user_id").cast("double")), 6).as("cr"),
          round(median(col("value")), 6).as("med")),
      Some("""SELECT event_type,
             |  round(stddev_samp(value), 4) AS sd,
             |  round(var_samp(value), 4) AS vr,
             |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cv,
             |  round(corr(value, CAST(user_id AS DOUBLE)), 6) AS cr,
             |  round(median(value), 6) AS med
             |FROM events GROUP BY event_type""".stripMargin),
      "stddev/variance/covariance/correlation/median"),

    // ---- linear regression + bitwise aggregates ------------------------
    Q("agg_regression",
      (s, d) => load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n")),
      Some("""SELECT l_returnflag,
             |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
             |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "regr_slope/intercept/r2/count — in-engine linear fits"),

    Q("agg_bitwise",
      (s, d) => load(s, d, "events")
        .groupBy(col("event_type"))
        .agg(bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor")),
      Some("""SELECT event_type, bit_and(user_id) AS band,
             |  bit_or(user_id) AS bor, bit_xor(user_id) AS bxor
             |FROM events GROUP BY event_type""".stripMargin),
      "bitwise aggregates (exact, order-independent)"),

    // ---- approximate distinct (HLL) — the sketch VALUE is
    // engine-specific, so the oracle checks the PROPERTY instead: the
    // exact count hash-matches, and `within_5pct` (Spark's HLL++ vs its
    // own exact count) must equal DuckDB's literal TRUE — a wrong sketch
    // fails the hash compare.
    Q("agg_approx_distinct",
      (s, d) => load(s, d, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")) -
            countDistinct(col("l_partkey"))).cast("double") /
            countDistinct(col("l_partkey")) <= 0.05).as("within_5pct")),
      Some("""SELECT count(DISTINCT l_partkey) AS exact_parts,
             |  TRUE AS within_5pct FROM lineitem""".stripMargin),
      "HLL++ approx distinct, property-oracled: within 5% of exact"),

    // ---- mergeable HLL sketches (DataSketches) ------------------------
    // The 100 TB distinct-count shape: per-partition sketches (here
    // per month) built once, UNIONED for any rollup — no re-scan of the
    // raw data per rollup, and the running view is incrementally
    // maintainable (an agg view's `distinctCols`). Sketch bytes
    // and estimates are engine-specific, so the oracle checks the
    // property: exact counts hash-match and both the direct and the
    // merged-from-partitions estimates land within 5% of exact.
    Q("agg_hll_mergeable",
      (s, d) => {
        val o = load(s, d, "orders")
        val perMonth = o
          .groupBy(col("o_orderpriority"), month(col("o_orderdate")).as("m"))
          .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"))
        val merged = perMonth.groupBy(col("o_orderpriority"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
        val direct = o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("exact_customers"),
            hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), 12)).as("est_direct"))
        direct.join(merged, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("exact_customers"),
            (abs(col("est_direct") - col("exact_customers")).cast("double") /
              col("exact_customers") <= 0.05).as("direct_within_5pct"),
            (abs(col("est_merged") - col("exact_customers")).cast("double") /
              col("exact_customers") <= 0.05).as("merged_within_5pct"))
      },
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_customers,
             |  TRUE AS direct_within_5pct, TRUE AS merged_within_5pct
             |FROM orders GROUP BY 1""".stripMargin),
      "mergeable HLL sketches: per-month sketches unioned per priority; " +
        "property-oracled against exact distinct"),

    // Count-min sketch — the frequency member of the mergeable-sketch
    // family (HLL = distincts, Misra-Gries = heavy hitters, KLL-style
    // = percentiles, bloom = membership, CMS = point frequencies).
    // Per-month partial sketches are built distributed (fixed
    // eps/confidence/seed ⇒ fixed width×depth counter grid, map-side
    // partials, O(sketch) per group on the wire — never the key
    // domain); the partials MERGE EXACTLY (counter grids add), so the
    // merged estimate must equal the single-pass estimate — asserted
    // as a column, the mergeability contract the whole family rides
    // at 100 TB. Probing three fixed keys is O(depth) driver work on
    // the collected kilobyte-sized sketches. The oracle checks exact
    // counts by value and the CMS properties (overestimate-only,
    // within eps·N with the fixed seed, merge ≡ direct) as booleans.
    Q("agg_cms_frequency",
      (s, d) => {
        import org.apache.spark.util.sketch.CountMinSketch
        val o = load(s, d, "orders")
        val keys = Seq(1L, 2L, 3L)
        val sk = expr("count_min_sketch(o_custkey, 0.001d, 0.99d, 42)")
        val partials = o.groupBy(month(col("o_orderdate")).as("m"))
          .agg(sk.as("sk")).collect()
        val merged = partials.map(r => CountMinSketch.readFrom(
            r.getAs[Array[Byte]]("sk")))
          .reduce { (a, b) => a.mergeInPlace(b); a }
        val direct = CountMinSketch.readFrom(
          o.agg(sk.as("sk")).head().getAs[Array[Byte]]("sk"))
        val total = o.count()
        val exact = o.filter(col("o_custkey").isin(keys: _*))
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        import s.implicits._
        keys.filter(exact.contains).map { k =>
          val est = direct.estimateCount(k)
          (k, exact(k),
            est >= exact(k),
            est <= exact(k) + (0.001 * total).toLong + 1,
            merged.estimateCount(k) == est)
        }.toDF("key", "exact_n", "est_ge_exact", "est_within_eps_n",
          "merged_equals_direct")
      },
      Some("""SELECT o_custkey AS key, count(*) AS exact_n,
             |  TRUE AS est_ge_exact, TRUE AS est_within_eps_n,
             |  TRUE AS merged_equals_direct
             |FROM orders WHERE o_custkey IN (1, 2, 3)
             |GROUP BY 1""".stripMargin),
      "count-min sketch point frequencies: distributed per-month " +
        "partials merge exactly to the single-pass sketch; " +
        "overestimate-only and eps·N bounds property-oracled"),

    // ---- bitmap exact distinct (mergeable, no approximation) ----------
    // The EXACT sibling of the HLL rollup: per-(group, month, bucket)
    // roaring-style bitmaps (bitmap_construct_agg over in-bucket bit
    // positions), OR-merged across months, counted and summed over
    // buckets. Every stage is an algebraic agg — map-side combined,
    // shuffle ∝ groups × touched buckets — and the result is EXACT, so
    // the oracle is a plain count(DISTINCT): the whole merge pipeline is
    // value-checked, not property-checked.
    Q("agg_bitmap_distinct",
      (s, d) => {
        val perMonth = load(s, d, "orders")
          .select(col("o_orderpriority"), month(col("o_orderdate")).as("m"),
            bitmap_bucket_number(col("o_custkey")).as("bucket"),
            bitmap_bit_position(col("o_custkey")).as("pos"))
          .groupBy(col("o_orderpriority"), col("m"), col("bucket"))
          .agg(bitmap_construct_agg(col("pos")).as("bm"))
        perMonth
          .groupBy(col("o_orderpriority"), col("bucket"))
          .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("c"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("c")).as("exact_customers"))
      },
      Some("""SELECT o_orderpriority,
             |  count(DISTINCT o_custkey) AS exact_customers
             |FROM orders GROUP BY 1""".stripMargin),
      "exact mergeable distinct via bucketed bitmaps " +
        "(construct per month, OR-merge, count) — value-oracled"),

    // ---- heavy hitters (Misra-Gries two-pass) -------------------------
    // The frequent-items sibling of the distinct sketches: at 100 TB the
    // key domain (URLs, n-grams, user ids) can be billions of keys —
    // a plain groupBy.count shuffles the WHOLE domain to find the
    // handful of hot keys. Pass 1 runs the capacity-c Misra-Gries
    // sketch (O(c) state per partition, ≤ c pairs shuffled per map
    // task), whose candidate array provably contains every key with
    // frequency > n/(c+1); pass 2 re-counts ONLY candidate keys
    // (array_contains prune against the broadcast 1-row sketch result,
    // ≤ c groups) and applies the exact threshold. The final answer is
    // identical to the full exact aggregation — the oracle IS that
    // exact aggregation — while the sketch bounds state and shuffle by
    // c, not by domain size. The testdata's keys are near-uniform, so
    // hot keys are planted: every 5th event also contributes its
    // user_id mod 3 eight times (~20% of the combined stream each),
    // the repo's planted-signal pattern (same rule in the oracle).
    Q("agg_heavy_hitters",
      (s, d) => {
        val ev = load(s, d, "events")
        val stream = ev.select(col("user_id").as("key"))
          .unionByName(ev.filter(col("event_id") % 5 === 0)
            .select(explode(sequence(lit(1), lit(8))).as("rep"),
              (col("user_id") % 3).as("key"))
            .select("key"))
        val sketch = stream.agg(count(lit(1)).as("n"),
          graft.functions.HeavyHitters.heavyHitterCandidates(15)(col("key"))
            .as("cand"))
        stream.crossJoin(broadcast(sketch))
          .filter(array_contains(col("cand"), col("key")))
          .groupBy(col("key"), col("n"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 16 > col("n"))
          .select(col("key"), col("cnt"))
          .orderBy(col("key"))
      },
      Some("""WITH stream AS (
             |  SELECT user_id AS key FROM events
             |  UNION ALL
             |  SELECT user_id % 3 AS key
             |  FROM events CROSS JOIN (SELECT unnest(range(8)) AS i) reps
             |  WHERE event_id % 5 = 0),
             |tot AS (SELECT count(*) AS n FROM stream)
             |SELECT key, count(*) AS cnt
             |FROM stream, tot GROUP BY key, n
             |HAVING count(*) * 16 > n
             |ORDER BY key""".stripMargin),
      "Misra-Gries heavy hitters: capacity-15 mergeable sketch prunes " +
        "the key domain, exact confirm pass over ≤15 candidates — " +
        "hash-identical to the full exact aggregation"),

    // ---- salted skew join ---------------------------------------------
    // One hot key must not pin one shuffle partition at 1000 executors:
    // the fact side salts deterministically (Skew.saltedEquiJoin), the
    // dim side replicates saltFactor ways, the join runs on (key, salt)
    // — same rows out (the oracle is the PLAIN join), hot-key load
    // divided by saltFactor. PlanAuditSpec pins the salted join shape.
    Q("join_salted_skew",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val o = load(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Skew.saltedEquiJoin(li, o, "l_orderkey", saltFactor = 8,
            saltBy = Seq("l_orderkey", "l_linenumber")) // narrow, cheap hash
          .groupBy(col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1)
            .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin),
      "salted skew join: deterministic fact-side salt + nSalts-replicated " +
        "dim, equi-join on (key, salt) — equals the plain join"),

    // ---- window function batch 2 --------------------------------------
    Q("window_navigation",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        load(s, d, "events").select(
          col("event_id"), col("user_id"),
          first(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_v"),
          last(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("last_v"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 8).as("pr"),
          round(cume_dist().over(w), 8).as("cd"),
          lead(col("event_type"), 1, "none").over(w).as("next_type"))
      },
      Some("""SELECT event_id, user_id,
             |  first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
             |  last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
             |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |  round(percent_rank() OVER w, 8) AS pr,
             |  round(cume_dist() OVER w, 8) AS cd,
             |  coalesce(lead(event_type, 1) OVER w, 'none') AS next_type
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),
      "first/last_value, ntile, percent_rank, cume_dist, lead-with-default"),

    // ---- pivot ---------------------------------------------------------
    Q("pivot_event_counts",
      (s, d) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val p = load(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      },
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'view') AS view,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'error') AS error
             |FROM events GROUP BY user_id""".stripMargin),
      "pivot (wide aggregation); oracle via FILTER clauses"),

    // ---- generator (1→N) ----------------------------------------------
    Q("explode_tokens",
      (s, d) => load(s, d, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
        .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"), col("word")),
      Some("""SELECT doc_id,
             |  CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
             |  unnest(string_split(text, ' ')) AS word
             |FROM documents WHERE doc_id < 20""".stripMargin),
      "posexplode generator — document chunking building block"),

    // ---- scalar batch 2: math -----------------------------------------
    Q("scalar_math_funcs",
      (s, d) => load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_d"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          sqrt(col("l_quantity")).as("sq"),
          (col("l_quantity") * col("l_quantity")).as("q2"),
          (col("l_partkey") % 7).as("pmod"),
          greatest(col("l_tax"), col("l_discount")).as("gmax"),
          least(col("l_tax"), col("l_discount")).as("lmin")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS abs_d,
             |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
             |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
             |  sqrt(l_quantity) AS sq,
             |  l_quantity * l_quantity AS q2,
             |  l_partkey % 7 AS pmod,
             |  greatest(l_tax, l_discount) AS gmax,
             |  least(l_tax, l_discount) AS lmin
             |FROM lineitem""".stripMargin),
      "F9 math: abs/floor/ceil/sqrt/mod/greatest/least (IEEE-exact ops only)"),

    // ---- scalar batch 2: strings --------------------------------------
    Q("scalar_string_funcs2",
      (s, d) => load(s, d, "nation")
        .select(col("n_nationkey"),
          lpad(col("n_name"), 12, "*").as("lp"),
          rpad(col("n_name"), 12, ".").as("rp"),
          reverse(col("n_name")).as("rev"),
          regexp_replace(col("n_name"), "A", "@").as("repl"),
          instr(col("n_name"), "AN").as("pos_an"),
          translate(col("n_name"), "AEI", "aei").as("tr"),
          expr("repeat('ab', n_nationkey % 3)").as("rep")),
      Some("""SELECT n_nationkey,
             |  lpad(n_name, 12, '*') AS lp,
             |  rpad(n_name, 12, '.') AS rp,
             |  reverse(n_name) AS rev,
             |  replace(n_name, 'A', '@') AS repl,
             |  CAST(strpos(n_name, 'AN') AS INTEGER) AS pos_an,
             |  translate(n_name, 'AEI', 'aei') AS tr,
             |  repeat('ab', n_nationkey % 3) AS rep
             |FROM nation""".stripMargin),
      "F2 strings: pad/reverse/replace/strpos/translate/repeat"),

    // ---- scalar batch 2: dates ----------------------------------------
    Q("scalar_date_funcs2",
      (s, d) => load(s, d, "orders")
        .select(col("o_orderkey"),
          dayofweek(col("o_orderdate")).as("dow"),
          dayofyear(col("o_orderdate")).as("doy"),
          quarter(col("o_orderdate")).as("q"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).as("days_to_end"),
          date_add(col("o_orderdate"), 30).cast("timestamp").as("plus30"),
          last_day(col("o_orderdate")).cast("timestamp").as("month_end")),
      Some("""SELECT o_orderkey,
             |  CAST(date_part('dow', o_orderdate) AS INTEGER) + 1 AS dow,
             |  CAST(date_part('doy', o_orderdate) AS INTEGER) AS doy,
             |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
             |  CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS INTEGER) AS days_to_end,
             |  o_orderdate + INTERVAL 30 DAY AS plus30,
             |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
             |FROM orders""".stripMargin),
      "F6 dates: dow/doy/quarter/datediff/date_add/last_day"),

    // ---- multiset difference ------------------------------------------
    Q("setop_except_all",
      (s, d) => load(s, d, "lineitem").select(col("l_orderkey").as("okey"))
        .exceptAll(load(s, d, "orders").select(col("o_orderkey").as("okey"))),
      Some("SELECT l_orderkey AS okey FROM lineitem " +
           "EXCEPT ALL SELECT o_orderkey FROM orders"),
      "EXCEPT ALL multiset semantics (duplicate-preserving diff)"),

    // ---- ordered string/array aggregation ------------------------------
    Q("agg_collect_sorted",
      (s, d) => load(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          array_join(sort_array(collect_list(col("event_type"))), ",").as("types_csv"),
          // scalar (joined-string) output: the driver comparator hashes
          // column values, and array cells crash its sort
          array_join(sort_array(collect_set(col("event_type"))), ",").as("distinct_types")),
      Some("""SELECT user_id,
             |  array_to_string(list_sort(list(event_type)), ',') AS types_csv,
             |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS distinct_types
             |FROM events GROUP BY user_id""".stripMargin),
      "collect_list/collect_set with canonical ordering (string_agg analog)"),

    // ---- pagination -----------------------------------------------------
    Q("topk_paginated",
      (s, d) => load(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(5).limit(15)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("SELECT o_orderkey, o_totalprice FROM orders " +
           "ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 5"),
      "LIMIT/OFFSET pagination over a deterministic total order"),

    // ---- null-safe equality --------------------------------------------
    Q("scalar_null_safe_eq",
      (s, d) => load(s, d, "events")
        .select(col("event_id"),
          nullif(col("event_type"), lit("error")).as("nt"))
        .select(col("event_id"),
          col("nt").eqNullSafe(lit(null).cast("string")).as("is_error"),
          coalesce(col("nt"), lit("ERR")).as("filled")),
      Some("""SELECT event_id,
             |  nullif(event_type, 'error') IS NOT DISTINCT FROM NULL AS is_error,
             |  coalesce(nullif(event_type, 'error'), 'ERR') AS filled
             |FROM events""".stripMargin),
      "null-safe equality (<=>) + nullif/coalesce null plumbing"),

    // ---- ANSI error-safe scalar family ---------------------------------
    // try_cast / try_divide: malformed input and division-by-zero
    // become NULL instead of a task failure — the row-level error
    // containment that keeps a 100 TB job from dying on one bad cell
    // (the DLQ's scalar-grain sibling: the DLQ quarantines whole
    // records, try_* degrades one field). Probes are data-driven:
    // the leading token of p_name never parses as an int while
    // p_size's string form always does, and quantity-1 hits zero on
    // every qty-1 lineitem.
    Q("scalar_try_funcs",
      (s, d) => load(s, d, "lineitem")
        .join(broadcast(load(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          try_divide(col("l_extendedprice"), col("l_quantity") - 1)
            .as("unit_over_rest"),
          expr("try_cast(split(p_name, ' ')[0] as int)").as("bad_int"),
          expr("try_cast(cast(p_size as string) as int)").as("good_int")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  l_extendedprice / nullif(l_quantity - 1, 0) AS unit_over_rest,
             |  TRY_CAST(string_split(p_name, ' ')[1] AS INTEGER) AS bad_int,
             |  TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS good_int
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
      "error-safe scalars: try_divide/try_cast degrade bad cells to " +
        "NULL instead of failing the task — the scalar-grain DLQ"),

    // First-order Markov model of user behavior: transition counts and
    // row-normalized probabilities between consecutive event types per
    // user — the behavioral-analytics sibling of the funnel (which
    // fixes the stage order; this learns the full transition matrix).
    // One user-keyed window pass builds the (prev, next) pairs, the
    // rollup is bounded by |event_types|², and the normalizing row sum
    // rides a second tiny window over the O(types²) aggregate — the
    // raw event history is never scanned twice. Probabilities are
    // exact int/int divisions (deterministic unrounded cross-engine);
    // (ts, event_id) makes the per-user order total.
    Q("events_markov_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val nxt = lead(col("event_type"), 1).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
        val pairs = ev.withColumn("next_type", nxt)
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
        pairs.withColumn("p",
          col("n") / sum(col("n")).over(Window.partitionBy("prev_type")))
      },
      Some("""WITH pairs AS (
             |  SELECT event_type AS prev_type,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |cnt AS (
             |  SELECT prev_type, next_type, count(*) AS n
             |  FROM pairs WHERE next_type IS NOT NULL
             |  GROUP BY 1, 2)
             |SELECT prev_type, next_type, n,
             |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
             |FROM cnt""".stripMargin),
      "first-order Markov transition matrix of user event sequences: " +
        "one user-keyed window pass, |types|²-bounded rollup, exact " +
        "int-ratio probabilities"),

    // Audience overlap between event types: distinct-user Jaccard per
    // type pair — the segment-overlap question every product-analytics
    // stack answers. The (type, user) distinct set is the only thing
    // that ever shuffles (bounded by users × types, with map-side
    // combine); it is persisted once because FOUR derivations read it
    // (both join sides + both size arms) — without the cache each one
    // re-scans the raw events table. The pair join is keyed by user,
    // the rollup by the types² pair space, and per-type sizes
    // broadcast back. Jaccard is an exact int/int division.
    Q("events_audience_overlap",
      (s, d) => {
        val tu = graft.core.Caching.persistOnce(load(s, d, "events")
          .select(col("event_type").as("t"), col("user_id")).distinct())
        val sizes = tu.groupBy("t").agg(count(lit(1)).as("nu"))
        val both = tu.as("a").join(tu.as("b"),
            col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
          .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        both
          .join(broadcast(sizes.select(col("t").as("type_a"), col("nu").as("na"))),
            "type_a")
          .join(broadcast(sizes.select(col("t").as("type_b"), col("nu").as("nb"))),
            "type_b")
          .select(col("type_a"), col("type_b"), col("n_both"),
            (col("n_both") / (col("na") + col("nb") - col("n_both")))
              .as("jaccard"))
      },
      Some("""WITH tu AS (
             |  SELECT DISTINCT event_type AS t, user_id FROM events),
             |sizes AS (SELECT t, count(*) AS nu FROM tu GROUP BY t),
             |ov AS (
             |  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
             |  FROM tu a JOIN tu b
             |    ON a.user_id = b.user_id AND a.t < b.t
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_both,
             |  CAST(n_both AS DOUBLE) / (sa.nu + sb.nu - n_both) AS jaccard
             |FROM ov
             |JOIN sizes sa ON sa.t = type_a
             |JOIN sizes sb ON sb.t = type_b""".stripMargin),
      "audience overlap: distinct-user Jaccard per event-type pair — " +
        "user-keyed join over the distinct (type,user) set, types² " +
        "rollup, exact int-ratio"),

    // Benford first-digit audit — the data-forensics profile: organic
    // monetary values follow P(d) = log10(1 + 1/d); synthetic,
    // truncated or fabricated columns deviate (and this synthetic
    // testdata DOES — digits 2-4 are ~4× over-represented, which is
    // exactly what the audit is for). One map-side digit extraction +
    // O(9) rollup + a 1-row total broadcast. Observed frequencies are
    // exact int ratios (unrounded); the log10-based expectation and
    // the normalized divergence term are rounded 4 dp.
    Q("profile_benford",
      (s, d) => {
        val digits = load(s, d, "orders")
          .filter(col("o_totalprice") >= 1)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).as("digit"))
        val cnt = digits.groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = cnt.agg(sum(col("n")).as("t"))
        val expected = log10(lit(1.0) + lit(1.0) / col("digit").cast("int"))
        cnt.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            (col("n") / col("t")).as("observed"),
            round(expected, 4).as("expected"),
            round(pow(col("n") / col("t") - expected, 2) / expected, 4)
              .as("divergence"))
      },
      Some("""WITH d AS (
             |  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS digit
             |  FROM orders WHERE o_totalprice >= 1),
             |cnt AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
             |tot AS (SELECT sum(n) AS t FROM cnt)
             |SELECT digit, n,
             |  CAST(n AS DOUBLE) / t AS observed,
             |  round(log10(1.0 + 1.0 / CAST(digit AS INTEGER)), 4) AS expected,
             |  round(power(CAST(n AS DOUBLE) / t
             |      - log10(1.0 + 1.0 / CAST(digit AS INTEGER)), 2)
             |    / log10(1.0 + 1.0 / CAST(digit AS INTEGER)), 4) AS divergence
             |FROM cnt, tot""".stripMargin),
      "Benford first-digit audit of monetary values: map-side digit " +
        "extraction + O(9) rollup; exact observed ratios, 4 dp " +
        "expectation/divergence"),

    // Revenue concentration per segment as the Gini coefficient —
    // the inequality measure analytics teams track (and the diversity
    // diagnostic dataset curators run on source contributions). The
    // rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n needs one
    // customer-grain rollup and one segment-partitioned sort — the
    // orders table shuffles once to customer grain (map-side
    // combined), the window runs over O(customers) rows. Exact-cents
    // longs make every term integer arithmetic below 2^53, so the
    // Gini itself hash-checks UNROUNDED: an inequality statistic with
    // zero float tolerance.
    Q("agg_gini_concentration",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rev = load(s, d, "orders")
          .join(broadcast(load(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"), col("o_custkey").as("cust"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val w = Window.partitionBy("seg")
        val rk = rev
          .withColumn("i", row_number().over(
            Window.partitionBy("seg").orderBy(col("cents"), col("cust"))))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("tot", sum(col("cents")).over(w))
        // Σi·cents ≈ n²·avg/2 and n·tot grow ∝ sf² — long wraps near
        // sf10. The rank sum accumulates in DECIMAL(38,0) (exact to
        // n ≈ 1e14), and n·tot is a double product of two exact longs:
        // both engines round the same exact values, so the result
        // stays bitwise-identical at any magnitude.
        rk.groupBy(col("seg"))
          .agg(max(col("n")).as("n_customers"),
            (lit(2.0) * sum(col("i").cast("decimal(19,0)") *
              col("cents").cast("decimal(19,0)")).cast("double") /
              (max(col("n")).cast("double") * max(col("tot")).cast("double")) -
              (max(col("n")) + 1).cast("double") / max(col("n"))).as("gini"))
      },
      Some("""WITH rev AS (
             |  SELECT c_mktsegment AS seg, o_custkey AS cust,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |rk AS (
             |  SELECT seg, cents,
             |    row_number() OVER (PARTITION BY seg ORDER BY cents, cust) AS i,
             |    count(*) OVER (PARTITION BY seg) AS n,
             |    sum(cents) OVER (PARTITION BY seg) AS tot
             |  FROM rev)
             |SELECT seg, CAST(max(n) AS BIGINT) AS n_customers,
             |  CAST(2 AS DOUBLE) * CAST(sum(CAST(i AS DECIMAL(19,0)) *
             |      CAST(cents AS DECIMAL(19,0))) AS DOUBLE)
             |    / (CAST(max(n) AS DOUBLE) * CAST(max(tot) AS DOUBLE))
             |    - CAST(max(n) + 1 AS DOUBLE) / max(n) AS gini
             |FROM rk GROUP BY seg""".stripMargin),
      "Gini revenue concentration per segment: one customer-grain " +
        "rollup + one segment window over O(customers) rows — " +
        "exact-cents integer terms, Gini hash-checked unrounded"),

    // Sequence-pattern detection (the MATCH_RECOGNIZE shape Spark has
    // no native operator for): did a user RECOVER after an error —
    // i.e. does a 'purchase' appear within the next 3 events? Three
    // lead() taps over one user-keyed ordered window answer it
    // without a self-join or a per-row re-scan of the history; the
    // per-user rollup then yields exact recovery ratios. The pattern
    // window is FIXED-width by design — at any scale the state is 3
    // taps per row, and arbitrary-width patterns would grow it, which
    // is exactly the trade MATCH_RECOGNIZE engines make too.
    Q("events_error_recovery",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val taps = load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("n1", lead(col("event_type"), 1).over(w))
          .withColumn("n2", lead(col("event_type"), 2).over(w))
          .withColumn("n3", lead(col("event_type"), 3).over(w))
        taps.filter(col("event_type") === "error")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_errors"),
            sum(when(col("n1") === "purchase" || col("n2") === "purchase" ||
              col("n3") === "purchase", 1L).otherwise(0L)).as("n_recovered"))
          .withColumn("recovery_rate", col("n_recovered") / col("n_errors"))
      },
      Some("""WITH taps AS (
             |  SELECT user_id, event_type,
             |    lead(event_type, 1) OVER win AS n1,
             |    lead(event_type, 2) OVER win AS n2,
             |    lead(event_type, 3) OVER win AS n3
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, count(*) AS n_errors,
             |  CAST(sum(CASE WHEN n1 = 'purchase' OR n2 = 'purchase'
             |      OR n3 = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
             |  CAST(sum(CASE WHEN n1 = 'purchase' OR n2 = 'purchase'
             |      OR n3 = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS recovery_rate
             |FROM taps WHERE event_type = 'error'
             |GROUP BY user_id""".stripMargin),
      "sequence-pattern detection (error→purchase within 3 events): " +
        "fixed-width lead() taps over one user-keyed window — no " +
        "self-join, exact int-ratio recovery rates"),

    // ---- F8 struct/map runtime ----------------------------------------
    Q("scalar_struct_map",
      (s, d) => load(s, d, "nation")
        .select(col("n_nationkey"),
          named_struct(lit("name"), col("n_name"), lit("region"), col("n_regionkey"))
            .getField("name").as("s_name"),
          map(lit("k"), col("n_regionkey")).getItem("k").as("m_region"),
          element_at(array(col("n_name"), upper(col("n_name"))), 2).as("arr2")),
      Some("""SELECT n_nationkey, n_name AS s_name,
             |  n_regionkey AS m_region, upper(n_name) AS arr2
             |FROM nation""".stripMargin),
      "F8 struct/map/array construction + field access (envelope navigation kernel)"),

    // ---- product-analytics shapes over the event stream ---------------

    // Ordered funnel view → click → purchase: each stage is the user's
    // FIRST qualifying event strictly after their previous stage, so a
    // click before any view doesn't count. Three (filter → per-user
    // min) hash aggs chained by equi-joins on user_id — every shuffle
    // is keyed by user_id, so AQE coalesces and the joins co-locate;
    // no window over the full event history. Stage-lag averages sum
    // integer microsecond diffs (exact under 2^53) before one division.
    Q("events_funnel_stages",
      (s, d) => {
        val ev = load(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("ts") > col("t2"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
        def lagS(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          round(avg(unix_micros(a) - unix_micros(b)) / 1e6, 2)
        s1.agg(count(lit(1)).as("n_users"),
            lit(null).cast("double").as("avg_lag_s"))
          .withColumn("stage", lit("1_view"))
          .unionByName(s2.agg(count(lit(1)).as("n_users"),
              lagS(col("t2"), col("t1")).as("avg_lag_s"))
            .withColumn("stage", lit("2_click")))
          .unionByName(s3.agg(count(lit(1)).as("n_users"),
              lagS(col("t3"), col("t2")).as("avg_lag_s"))
            .withColumn("stage", lit("3_purchase")))
          .select(col("stage"), col("n_users"), col("avg_lag_s"))
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, min(ts) AS t2, min(t1) AS t1
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, min(ts) AS t3, min(t2) AS t2
             |  FROM events e JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
             |SELECT '1_view' AS stage, count(*) AS n_users,
             |  CAST(NULL AS DOUBLE) AS avg_lag_s FROM s1
             |UNION ALL
             |SELECT '2_click', count(*),
             |  round(avg(epoch_us(t2) - epoch_us(t1)) / 1e6, 2) FROM s2
             |UNION ALL
             |SELECT '3_purchase', count(*),
             |  round(avg(epoch_us(t3) - epoch_us(t2)) / 1e6, 2) FROM s3""".stripMargin),
      "ordered 3-stage funnel with per-stage user counts and average " +
        "stage-to-stage lag"),

    // Weekly cohort retention over paying users (purchase events above
    // a value floor — the raw stream is dense enough that every user is
    // active in week 0, which would collapse the matrix to one cohort):
    // users bucket by first qualifying week, then distinct (user, week)
    // activity joins back to the cohort — the (cohort_week,
    // week_offset) matrix every growth dashboard draws. The filter
    // collapses into the scan; distinct-then-join keeps the join input
    // at one row per user-week, and both shuffles key on user_id.
    Q("events_cohort_retention",
      (s, d) => {
        val uw = load(s, d, "events")
          .filter(col("event_type") === "purchase" && col("value") > 45)
          .select(col("user_id"),
            expr("datediff(to_date(ts), date '2024-01-01') div 7")
              .cast("long").as("wk"))
          .distinct()
        val coh = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
        uw.join(coh, "user_id")
          .groupBy(col("cw").as("cohort_week"),
            (col("wk") - col("cw")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
             |         AS BIGINT) AS wk
             |  FROM events WHERE event_type = 'purchase' AND value > 45),
             |coh AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1)
             |SELECT cw AS cohort_week, wk - cw AS week_offset,
             |  count(*) AS n_users
             |FROM uw JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin),
      "weekly cohort retention matrix: first-activity cohorts × " +
        "activity-week offsets"),

    // Last-touch attribution: every purchase attributes to the user's
    // most recent click at-or-before it — the AsofJoin operator reused
    // on the event stream (one user_id-keyed shuffle + sort, no range
    // theta-join), checked against DuckDB's native ASOF JOIN. Purchases
    // with no prior click keep a NULL lag (left semantics).
    Q("events_attribution_asof",
      (s, d) => {
        val ev = load(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
        AsofJoin(purchases, clicks, "user_id", "c_user", "ts", "click_ts",
          Seq("click_ts"))
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - unix_micros(col("click_ts")))
              .as("lag_us"))
      },
      Some("""SELECT p.event_id, p.user_id,
             |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
             |FROM (SELECT event_id, user_id, ts FROM events
             |      WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT user_id, ts FROM events
             |                WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),
      "last-touch attribution via the as-of join operator vs DuckDB's " +
        "native ASOF JOIN"),

    // 2-D skyline (Pareto frontier): the parts no other part beats on
    // BOTH price (minimize) and size (maximize) — the multi-objective
    // "best offers" operator. The naive formulation is an all-pairs
    // dominance anti-join (the shape this codebase bans); in 2-D the
    // frontier is a single running-max sweep: collapse to one row per
    // price (map-side-combined max(size) — the only pass that touches
    // the full table), then a running max over ascending price marks
    // each price whose best size beats every cheaper price's best.
    // The window input is #distinct prices, already aggregated, not
    // the table; for truly unbounded key cardinality the sweep
    // decomposes by range partition with per-partition frontiers
    // merged by the same rule (skyline is a semilattice). Dominance
    // is pure comparison — no arithmetic — so every engine agrees
    // bit-for-bit; equal (price, size) points don't dominate each
    // other and are all kept, per standard strict-dominance skyline
    // semantics.
    Q("topk_skyline",
      (s, d) => {
        val parts = load(s, d, "part")
        val g = parts.groupBy(col("p_retailprice"))
          .agg(max(col("p_size")).as("ms"))
        val sweep = Window.orderBy(col("p_retailprice"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val sky = g
          .select(col("p_retailprice"), col("ms"),
            max(col("ms")).over(sweep).as("pm"))
          .filter(col("pm").isNull || col("ms") > col("pm"))
        parts.join(sky, Seq("p_retailprice"))
          .filter(col("p_size") === col("ms"))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      },
      Some("""WITH g AS (SELECT p_retailprice, max(p_size) AS ms
             |           FROM part GROUP BY 1),
             |w AS (SELECT p_retailprice, ms,
             |        max(ms) OVER (ORDER BY p_retailprice
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |          AS pm
             |      FROM g),
             |sky AS (SELECT p_retailprice, ms FROM w
             |        WHERE pm IS NULL OR ms > pm)
             |SELECT p_partkey, p_retailprice, p_size
             |FROM part JOIN sky USING (p_retailprice)
             |WHERE p_size = sky.ms""".stripMargin),
      "Pareto frontier via aggregate-then-sweep — one table pass + a " +
        "window over distinct prices, no all-pairs dominance join; " +
        "frontier membership hash-checked"),

    // RFM customer segmentation (recency / frequency / monetary
    // quartile scores): the standard marketing-analytics rollup —
    // per-customer order stats, quartile-score each dimension, then
    // segment-level population and spend. Monetary uses the exact-
    // cents trick (per-row round→long, integer sums) so the quartile
    // order and per-segment averages are order-independent and engine-
    // exact. Quartiles are VALUE-ATOMIC percentile cutoffs, not a
    // global ntile over the customer aggregate: per dimension, a
    // value-grain rollup + cumulative window over the VALUE DOMAIN
    // yields q(v) = 1 + 4·(#customers strictly above v) DIV n, whose
    // three boundary values (min v with q ≤ k) collapse to ONE 9-cut
    // broadcast row — customers then get their segment from pure
    // map-side comparisons. No window ever sees customer grain; the
    // only full-table pass is the customer rollup (map-side combined,
    // shuffle ∝ customers).
    Q("agg_rfm_segments",
      (s, d) => {
        val cust = persistOnce(load(s, d, "orders")
          .groupBy(col("o_custkey")).agg(
            max(col("o_orderdate")).as("rec"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("mon_cents")))
        val nRow = cust.agg(count(lit(1)).as("n"))
        // two-level distributed prefix count over each dimension's
        // VALUE DOMAIN (same discipline as pipeline_length_buckets):
        // within-block cumulative under a PARTITIONED window + prior-
        // block offsets from a triangular join on the tiny block
        // rollup — no unpartitioned window at any scale. Block keys
        // are order-preserving coarsenings (year / v>>4 / v>>24).
        //
        // ONE stacked pipeline for all three dimensions (r14): the
        // previous shape ran the rollup + window + prior join + cut
        // aggregate once PER dimension (3 parallel pipelines, ~18
        // exchanges, then two crossJoins) — this stacks (dim, blk, v)
        // rows map-side and runs each step once, with the dim column
        // riding every key (~6 exchanges). Recency stacks as
        // epoch-days: datediff is an order-preserving bijection of
        // the date domain, so per-dim counts, cutoffs and the final
        // customer comparisons are value-for-value identical.
        val recDays = datediff(col("rec"), lit("1970-01-01")).cast("long")
        val stacked = cust.select(explode(array(
          struct(lit("rec").as("dim"),
            year(col("rec")).cast("long").as("blk"), recDays.as("v")),
          struct(lit("freq").as("dim"),
            shiftright(col("freq"), 4).as("blk"), col("freq").as("v")),
          struct(lit("mon").as("dim"),
            shiftright(col("mon_cents"), 24).as("blk"),
            col("mon_cents").as("v")))).as("e"))
          .select(col("e.*"))
        val vals = persistOnce(stacked
          .groupBy(col("dim"), col("blk"), col("v"))
          .agg(count(lit(1)).as("cnt")))
        val wIn = Window.partitionBy(col("dim"), col("blk"))
          .orderBy(col("v").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val blkTot = vals.groupBy(col("dim"), col("blk"))
          .agg(sum(col("cnt")).as("btot"))
        val prior = blkTot.as("a")
          .join(broadcast(blkTot.as("b")),
            col("a.dim") === col("b.dim") && col("b.blk") > col("a.blk"),
            "left")
          .groupBy(col("a.dim").as("dim"), col("a.blk").as("blk"))
          .agg(coalesce(sum(col("b.btot")), lit(0L)).as("prior"))
        def cutAt(dim: String, k: Int, name: String): Column =
          min(when(col("dim") === dim && col("q") <= k, col("v"))).as(name)
        val cut = vals.withColumn("cumin", sum(col("cnt")).over(wIn))
          .join(broadcast(prior), Seq("dim", "blk")).crossJoin(nRow)
          .withColumn("q", expr("1 + (4 * (cumin + prior - cnt)) div n"))
          .agg(cutAt("rec", 1, "rec_t1"), cutAt("rec", 2, "rec_t2"),
            cutAt("rec", 3, "rec_t3"), cutAt("freq", 1, "freq_t1"),
            cutAt("freq", 2, "freq_t2"), cutAt("freq", 3, "freq_t3"),
            cutAt("mon", 1, "mon_t1"), cutAt("mon", 2, "mon_t2"),
            cutAt("mon", 3, "mon_t3"))
        def score(c: String, t: String): Column = (lit(4)
          - (col(c) >= col(s"${t}_t1")).cast("int")
          - (col(c) >= col(s"${t}_t2")).cast("int")
          - (col(c) >= col(s"${t}_t3")).cast("int")).cast("string")
        cust.withColumn("rec_days", recDays)
          .crossJoin(broadcast(cut))
          .select(col("mon_cents"),
            concat(score("rec_days", "rec"), score("freq", "freq"),
              score("mon_cents", "mon")).as("segment"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("mon_cents")).as("sc"))
          // 4-dp half-up rounding in INTEGER space ((2a+b) div 2b) —
          // a float round() here lands on .xxxx5 boundaries where
          // Spark's HALF_UP and DuckDB's double rounding diverge
          .select(col("segment"), col("n_customers"),
            (expr("(sc * 200 + n_customers) div (2 * n_customers)")
              / lit(10000.0)).as("avg_monetary"))
      },
      Some("""WITH cust AS (
             |  SELECT o_custkey, max(o_orderdate) AS rec, count(*) AS freq,
             |         sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |           AS mon_cents
             |  FROM orders GROUP BY 1),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
             |rcut AS (SELECT
             |    min(CASE WHEN q <= 1 THEN v END) AS rec_t1,
             |    min(CASE WHEN q <= 2 THEN v END) AS rec_t2,
             |    min(CASE WHEN q <= 3 THEN v END) AS rec_t3
             |  FROM (SELECT v, 1 + (4 * (cum - cnt)) // n AS q
             |    FROM (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS BIGINT) AS cum
             |      FROM (SELECT rec AS v, count(*) AS cnt
             |            FROM cust GROUP BY 1)) CROSS JOIN nn)),
             |fcut AS (SELECT
             |    min(CASE WHEN q <= 1 THEN v END) AS freq_t1,
             |    min(CASE WHEN q <= 2 THEN v END) AS freq_t2,
             |    min(CASE WHEN q <= 3 THEN v END) AS freq_t3
             |  FROM (SELECT v, 1 + (4 * (cum - cnt)) // n AS q
             |    FROM (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS BIGINT) AS cum
             |      FROM (SELECT freq AS v, count(*) AS cnt
             |            FROM cust GROUP BY 1)) CROSS JOIN nn)),
             |mcut AS (SELECT
             |    min(CASE WHEN q <= 1 THEN v END) AS mon_t1,
             |    min(CASE WHEN q <= 2 THEN v END) AS mon_t2,
             |    min(CASE WHEN q <= 3 THEN v END) AS mon_t3
             |  FROM (SELECT v, 1 + (4 * (cum - cnt)) // n AS q
             |    FROM (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS BIGINT) AS cum
             |      FROM (SELECT mon_cents AS v, count(*) AS cnt
             |            FROM cust GROUP BY 1)) CROSS JOIN nn)),
             |sc AS (SELECT mon_cents,
             |    CAST(4 - CAST(rec >= rec_t1 AS INT)
             |           - CAST(rec >= rec_t2 AS INT)
             |           - CAST(rec >= rec_t3 AS INT) AS VARCHAR) ||
             |    CAST(4 - CAST(freq >= freq_t1 AS INT)
             |           - CAST(freq >= freq_t2 AS INT)
             |           - CAST(freq >= freq_t3 AS INT) AS VARCHAR) ||
             |    CAST(4 - CAST(mon_cents >= mon_t1 AS INT)
             |           - CAST(mon_cents >= mon_t2 AS INT)
             |           - CAST(mon_cents >= mon_t3 AS INT) AS VARCHAR)
             |      AS segment
             |  FROM cust CROSS JOIN rcut CROSS JOIN fcut CROSS JOIN mcut)
             |SELECT segment, count(*) AS n_customers,
             |  CAST((sum(mon_cents) * 200 + count(*)) // (2 * count(*))
             |    AS BIGINT) / 10000.0 AS avg_monetary
             |FROM sc GROUP BY 1""".stripMargin),
      "RFM value-atomic quartile segmentation over exact-cents " +
        "customer rollups — 9 percentile cutoffs from value-domain " +
        "rollups broadcast as one row, map-side segment assignment; " +
        "no window over customer grain"),

    // Market-basket association mining: part pairs co-purchased in the
    // same order, scored by LIFT = P(ab) / (P(a)·P(b)) over order
    // baskets with a minimum-support floor — the frequent-itemset /
    // recommender primer ("bought X, also bought Y"). The pair join is
    // the textbook bounded self-join: baskets equi-join on ORDER KEY,
    // so candidates ∝ Σ basket_size² (baskets are a handful of lines —
    // bounded by data semantics, not table size), never lineitem².
    // Item supports are one map-side-combined rollup of the
    // deduplicated (order, part) set; the two corpus constants ride a
    // 1-row broadcast; the top-25 is TakeOrderedAndProject on
    // (unrounded-identical lift, pair) — deterministic cut, 4 dp
    // display rounding.
    Q("join_market_basket",
      (s, d) => {
        val li = graft.core.Caching.persistOnce(load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct())
        val item = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c_i"))
        val no = li.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n"))
        val lift = (col("c_ab") / col("n")) /
          ((col("c_a") / col("n")) * (col("c_b") / col("n")))
        li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 3)
          .join(item.select(col("l_partkey").as("pa"), col("c_i").as("c_a")),
            "pa")
          .join(item.select(col("l_partkey").as("pb"), col("c_i").as("c_b")),
            "pb")
          .crossJoin(broadcast(no))
          .orderBy(lift.desc, col("pa"), col("pb")).limit(25)
          .select(col("pa"), col("pb"), col("c_ab"),
            round(lift, 4).as("lift4"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
             |            FROM lineitem),
             |item AS (SELECT l_partkey, count(*) AS c_i
             |         FROM li GROUP BY 1),
             |no AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
             |pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             |            count(*) AS c_ab
             |          FROM li a JOIN li b
             |            ON a.l_orderkey = b.l_orderkey
             |           AND a.l_partkey < b.l_partkey
             |          GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pa, pb, c_ab,
             |  round((c_ab / n) / ((ia.c_i / n) * (ib.c_i / n)), 4) AS lift4
             |FROM pairs
             |JOIN item ia ON pairs.pa = ia.l_partkey
             |JOIN item ib ON pairs.pb = ib.l_partkey, no
             |ORDER BY (c_ab / n) / ((ia.c_i / n) * (ib.c_i / n)) DESC,
             |  pa, pb
             |LIMIT 25""".stripMargin),
      "market-basket lift mining: order-keyed pair self-join bounded " +
        "by basket size, broadcast supports, TakeOrdered top-25 — " +
        "support counts and lift hash-checked"),

    // Sweep-line peak concurrency ("how many orders were open at
    // once"): each order becomes a +1 boundary at o_orderdate and a
    // −1 at close (7 days later, half-open so the close processes
    // first at ties via the delta sort key), and the running boundary
    // sum IS the number of open intervals. The textbook sweep is one
    // global sort — this is the TWO-PHASE decomposition that scales:
    // boundaries shuffle once by MONTH, the running sum is computed
    // per month (a partitioned window), and each month's carry-in is
    // the prefix sum of O(months) monthly totals (a tiny broadcast
    // frame) — no global sort of the boundary stream ever happens.
    // RANGE cumulative frames (both engines' default) give tied
    // (ts, delta) rows one shared value, so the output is
    // deterministic without a per-row tie-break. All integers.
    Q("window_sweep_concurrency",
      (s, d) => {
        val o = load(s, d, "orders")
        val deltas = o
          .select(col("o_orderdate").as("ts"), lit(1).as("delta"))
          .unionByName(o.select(
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("ts"),
            lit(-1).as("delta")))
          .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        val carry = deltas.groupBy("month")
          .agg(sum(col("delta")).as("msum"))
          .withColumn("carry", coalesce(
            sum(col("msum")).over(Window.orderBy(col("month"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("month"), col("carry"))
        val localW = Window.partitionBy(col("month"))
          .orderBy(col("ts"), col("delta"))
        deltas.join(broadcast(carry), "month")
          .withColumn("run", col("carry") + sum(col("delta")).over(localW))
          .groupBy(col("month"))
          .agg(max(col("run")).as("peak_open"),
            count(lit(1)).as("n_boundaries"))
      },
      Some("""WITH deltas AS (
             |  SELECT o_orderdate AS ts, 1 AS delta,
             |         strftime(o_orderdate, '%Y-%m') AS month
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderdate + INTERVAL 7 DAY, -1,
             |         strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m')
             |  FROM orders),
             |mo AS (SELECT month, sum(delta) AS msum
             |       FROM deltas GROUP BY 1),
             |carry AS (SELECT month, coalesce(sum(msum) OVER (
             |    ORDER BY month
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS carry
             |  FROM mo),
             |runs AS (SELECT deltas.month,
             |    carry + sum(delta) OVER (PARTITION BY deltas.month
             |      ORDER BY ts, delta) AS run
             |  FROM deltas JOIN carry USING (month))
             |SELECT month, CAST(max(run) AS BIGINT) AS peak_open,
             |       count(*) AS n_boundaries
             |FROM runs GROUP BY 1""".stripMargin),
      "two-phase sweep-line: month-partitioned running sums + O(months) " +
        "carry prefix — peak open-interval counts without a global " +
        "sort; exact integers"),

    // Robust outlier detection by MAD (median absolute deviation):
    // the modified z-score 0.6745·|x−med|/MAD > 3.5 (Iglewicz-
    // Hoaglin) — the dispersion-side sibling of agg_robust_mean;
    // mean/σ rules break down exactly when outliers are present
    // because the outliers inflate σ, while the breakdown point of
    // median/MAD is 50%. Two broadcast-threshold passes (group
    // medians, then deviation medians) + one counting pass — the
    // orders table is never sorted or shuffled; interpolated medians
    // over exact-cents integers are dyadic-exact, so both engines
    // agree bit-for-bit and the flag comparisons are deterministic.
    Q("agg_mad_outliers",
      (s, d) => {
        val base = load(s, d, "orders").select(
          col("o_orderpriority").as("grp"),
          round(col("o_totalprice") * 100).cast("long").as("c"),
          col("o_orderkey"))
        // PLANTED outliers: the fixture's totals never exceed the
        // modified-z 3.5 fence in any group (review finding — the
        // counting path was dead), so every 499th order re-enters at
        // 25× its cents; both engines replay the plant, and
        // n_outliers > 0 is what proves the fence fires
        val cents = persistOnce(base.select(col("grp"), col("c"))
          .unionByName(base.filter(col("o_orderkey") % 499 === 0)
            .select(col("grp"), (col("c") * 25).as("c"))))
        val med = cents.groupBy("grp")
          .agg(round(percentile(col("c"), lit(0.5)), 6).as("med"))
        val dev = persistOnce(cents.join(broadcast(med), "grp")
          .select(col("grp"), col("med"), abs(col("c") - col("med")).as("ad")))
        val mad = dev.groupBy("grp")
          .agg(round(percentile(col("ad"), lit(0.5)), 6).as("mad"))
        dev.join(broadcast(mad), "grp")
          .select(col("grp"), col("med"), col("mad"),
            (col("ad") > col("mad") * lit(3.5) / lit(0.6745)).as("out"))
          .groupBy("grp", "med", "mad")
          .agg(count(lit(1)).as("n"),
            sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"))
      },
      Some("""WITH cents AS (
             |  SELECT o_orderpriority AS grp,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderpriority,
             |         CAST(round(o_totalprice * 100) AS BIGINT) * 25
             |  FROM orders WHERE o_orderkey % 499 = 0),
             |med AS (SELECT grp, round(quantile_cont(c, 0.5), 6) AS med
             |        FROM cents GROUP BY 1),
             |dev AS (SELECT cents.grp, med, abs(c - med) AS ad
             |        FROM cents JOIN med USING (grp)),
             |mad AS (SELECT grp, round(quantile_cont(ad, 0.5), 6) AS mad
             |        FROM dev GROUP BY 1)
             |SELECT dev.grp, med, mad, count(*) AS n,
             |  CAST(sum(CASE WHEN ad > mad * 3.5 / 0.6745
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN mad USING (grp)
             |GROUP BY 1, 2, 3""".stripMargin),
      "MAD modified-z outlier counts per group: two broadcast-median " +
        "passes + one rollup, dyadic-exact medians — no table sort, " +
        "counts hash-checked"),

    // Growth accounting (active-user lifecycle): every product-
    // analytics dashboard's first panel — per period, how many
    // active users are NEW (first period ever), RETAINED (also active
    // the previous period), RESURRECTED (returning after a gap), and
    // how many CHURN OUT after this period (no activity in the next).
    // One distinct (user, period-index) rollup, then a single
    // user-keyed window pass (lag + lead taps share one sort), then
    // an O(periods) rollup — the event stream shuffles once to user
    // grain and never again. The period is the integer epoch-DAY
    // index (micros div 86400e6 — the fixture spans one calendar
    // month, so daily grain is what makes retained/resurrected/churn
    // non-degenerate); "previous period" is mi−1 in both engines and
    // everything is exact counts. At monthly grain the same query
    // runs on year×12+month.
    Q("events_growth_accounting",
      (s, d) => {
        val ua = load(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("mi"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("mi"))
        ua.withColumn("prev", lag(col("mi"), 1).over(w))
          .withColumn("nxt", lead(col("mi"), 1).over(w))
          .groupBy(col("mi"))
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
            sum(when(col("prev") === col("mi") - 1, 1L).otherwise(0L))
              .as("n_retained"),
            sum(when(col("prev").isNotNull && col("prev") < col("mi") - 1,
              1L).otherwise(0L)).as("n_resurrected"),
            sum(when(col("nxt").isNull || col("nxt") > col("mi") + 1,
              1L).otherwise(0L)).as("n_churn_after"))
      },
      Some("""WITH ua AS (
             |  SELECT DISTINCT user_id,
             |    epoch_us(ts) // 86400000000 AS mi
             |  FROM events),
             |cl AS (SELECT mi,
             |    lag(mi) OVER (PARTITION BY user_id ORDER BY mi) AS prev,
             |    lead(mi) OVER (PARTITION BY user_id ORDER BY mi) AS nxt
             |  FROM ua)
             |SELECT mi, count(*) AS n_active,
             |  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_new,
             |  CAST(sum(CASE WHEN prev = mi - 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_retained,
             |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev < mi - 1
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             |  CAST(sum(CASE WHEN nxt IS NULL OR nxt > mi + 1
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churn_after
             |FROM cl GROUP BY 1""".stripMargin),
      "new / retained / resurrected / churning actives per period: one " +
        "user-grain shuffle, lag+lead on one window sort, exact counts"),

    // Conversion rates with WILSON 95% score intervals per cohort —
    // the statistically honest version of a conversion dashboard: the
    // naive p ± z√(p(1−p)/n) Wald interval collapses to width 0 at
    // p ∈ {0, 1} and undercovers at small n, exactly where product
    // decisions get made; Wilson stays calibrated. One week-user
    // rollup (bool_or of purchase; epoch-week index keeps the
    // single-month fixture non-degenerate), one O(weeks) aggregate,
    // then pure per-row arithmetic from exact integer counts —
    // identical IEEE ops in both engines, rounded 6 dp at output only.
    Q("agg_wilson_conversion",
      (s, d) => {
        val mu = load(s, d, "events")
          .select(expr("unix_micros(ts) div 604800000000").as("mi"),
            col("user_id"),
            (col("event_type") === "purchase").as("pur"))
          .groupBy(col("mi"), col("user_id"))
          .agg(expr("bool_or(pur)").as("converted"))
        val z = lit(1.96)
        val p = col("k").cast("double") / col("n")
        val z2n = z * z / col("n")
        val half = z * sqrt(p * (lit(1.0) - p) / col("n") +
          z * z / (lit(4.0) * col("n") * col("n")))
        val centre = p + z2n / 2
        mu.groupBy(col("mi"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("converted"), 1L).otherwise(0L)).as("k"))
          .select(col("mi"), col("n"), col("k"),
            round(p, 6).as("p_hat"),
            round((centre - half) / (lit(1.0) + z2n), 6).as("wilson_lo"),
            round((centre + half) / (lit(1.0) + z2n), 6).as("wilson_hi"))
      },
      Some("""WITH mu AS (
             |  SELECT epoch_us(ts) // 604800000000 AS mi,
             |         user_id,
             |         bool_or(event_type = 'purchase') AS converted
             |  FROM events GROUP BY 1, 2),
             |cnt AS (SELECT mi, count(*) AS n,
             |          CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
             |            AS BIGINT) AS k
             |        FROM mu GROUP BY 1)
             |SELECT mi, n, k,
             |  round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
             |  round(((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / n / 2)
             |    - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
             |        * (1.0 - CAST(k AS DOUBLE) / n) / n
             |      + 1.96 * 1.96 / (4.0 * n * n)))
             |    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lo,
             |  round(((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / n / 2)
             |    + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
             |        * (1.0 - CAST(k AS DOUBLE) / n) / n
             |      + 1.96 * 1.96 / (4.0 * n * n)))
             |    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_hi
             |FROM cnt""".stripMargin),
      "weekly conversion with Wilson 95% bounds: two rollups + exact-" +
        "count per-row arithmetic — calibrated intervals hash-checked"),

    // Time-weighted average (TWAP): the honest mean of an irregularly
    // sampled series — each observation holds until the next one, so
    // its weight is its HOLDING DURATION, not 1/n (a metric sampled
    // 100×/s during an incident and 1×/min otherwise would otherwise
    // report the incident as the norm). One lead() tap per key gives
    // the duration (integer microseconds, exact); the last observation
    // of each key holds to that key's stream end and drops out (no
    // duration). Per-key products are per-row identical-IEEE doubles;
    // the final weighted sum is order-unstable → rounded 4 dp. One
    // (key)-sorted window pass + an O(keys) rollup.
    Q("window_time_weighted_avg",
      (s, d) => {
        val ev = load(s, d, "events").select(col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("us"),
          col("value"))
        ev.withColumn("nxt", lead(col("us"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(col("event_type"),
            (col("nxt") - col("us")).as("dur"), col("value"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_held"),
            round(sum(col("value") * col("dur")) / sum(col("dur")), 4)
              .as("twap"),
            round(avg(col("value")), 4).as("naive_avg"))
      },
      Some("""WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us
             |            FROM events),
             |held AS (SELECT event_type, value,
             |    lead(us) OVER (PARTITION BY event_type
             |                   ORDER BY us, value) - us AS dur
             |  FROM ev)
             |SELECT event_type, count(*) AS n_held,
             |  round(sum(value * dur) / sum(dur), 4) AS twap,
             |  round(avg(value), 4) AS naive_avg
             |FROM held WHERE dur IS NOT NULL
             |GROUP BY 1""".stripMargin),
      "duration-weighted series mean vs the naive mean: one lead() tap " +
        "per key, exact integer durations, O(keys) output"),

    // Multi-touch attribution with TIME-DECAY weights: each purchase's
    // credit is split across the user's clicks in the preceding 7
    // days, weighted 2^(-age_days) — recent touches earn more. The
    // weights are DYADIC (powers of two of integer day-ages), so the
    // per-purchase weight sums are EXACT in binary floating point and
    // the normalized shares hash-check UNROUNDED cross-engine — the
    // deliberate reason for base-2 decay over the usual e^(-λt).
    // Candidates come from a user-keyed equi-join filtered to the
    // window (pairs ∝ per-user activity, the same bound every
    // user-session join has); the per-purchase normalizer is one
    // purchase-keyed aggregation joined back on pid. Last-touch
    // attribution (events_attribution_asof) is the 1-touch special
    // case of this operator.
    Q("events_multitouch_attribution",
      (s, d) => {
        val ev = load(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            unix_micros(col("ts")).as("pus"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("cid"),
            unix_micros(col("ts")).as("cus"))
        val day = lit(86400000000L)
        val pairs = purchases.join(clicks, "user_id")
          .filter(col("cus") <= col("pus") &&
            col("cus") > col("pus") - lit(7L) * day)
          .select(col("pid"), col("user_id"), col("cid"),
            pow(lit(2.0),
              -expr("(pus - cus) div 86400000000").cast("double")).as("wt"))
        val norm = pairs.groupBy(col("pid")).agg(sum(col("wt")).as("tw"))
        pairs.join(norm, "pid")
          .select(col("pid"), col("user_id"), col("cid"),
            (col("wt") / col("tw")).as("share"))
      },
      Some("""WITH p AS (SELECT event_id AS pid, user_id,
             |             epoch_us(ts) AS pus
             |           FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, event_id AS cid, epoch_us(ts) AS cus
             |      FROM events WHERE event_type = 'click'),
             |pairs AS (SELECT pid, p.user_id AS user_id, cid,
             |    pow(2.0, -CAST((pus - cus) // 86400000000 AS DOUBLE))
             |      AS wt
             |  FROM p JOIN c ON p.user_id = c.user_id
             |  WHERE cus <= pus AND cus > pus - 7 * 86400000000),
             |norm AS (SELECT pid, sum(wt) AS tw FROM pairs GROUP BY 1)
             |SELECT pid, user_id, cid, wt / tw AS share
             |FROM pairs JOIN norm USING (pid)""".stripMargin),
      "time-decay multi-touch attribution: user-keyed candidate join, " +
        "dyadic 2^-age weights make shares exact and unrounded — " +
        "full credit assignment hash-checked"),

    // Freshness-decayed popularity: the recsys/trending ranking score
    // Σ 2^(-age_weeks) per item — an order last week counts double
    // one from two weeks ago; a hit of any age always outranks
    // silence. Decay is measured from the corpus max date (a 1-row
    // broadcast); ages are INTEGER weeks CLAMPED at 40, so every
    // weight is a multiple of 2^-40 and totals stay < 2^13 — all
    // partial sums fit 53 mantissa bits, making the score EXACT in
    // any summation order (an unclamped 7-year age span would exceed
    // the mantissa and reintroduce order sensitivity); it hash-checks
    // unrounded, same trick as the multi-touch attribution weights.
    // One lineitem→orders equi-join (dates ride the order row), one
    // map-side-combined rollup, TakeOrdered top-25, partkey
    // tie-break.
    Q("agg_decayed_popularity",
      (s, d) => {
        val o = load(s, d, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
        val li = load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val mx = o.agg(max(col("od")).as("mx"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .crossJoin(broadcast(mx))
          .select(col("l_partkey"),
            pow(lit(2.0),
              -least(expr("datediff(mx, od) div 7"), lit(40))
                .cast("double")).as("wt"))
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_hits"), sum(col("wt")).as("score"))
          .orderBy(col("score").desc, col("l_partkey")).limit(25)
      },
      Some("""WITH o AS (SELECT o_orderkey,
             |             CAST(o_orderdate AS DATE) AS od
             |           FROM orders),
             |mx AS (SELECT max(od) AS mx FROM o),
             |w AS (SELECT l_partkey,
             |    pow(2.0, -CAST(least((mx - od) // 7, 40)
             |      AS DOUBLE)) AS wt
             |  FROM lineitem JOIN o ON l_orderkey = o_orderkey, mx)
             |SELECT l_partkey, count(*) AS n_hits, sum(wt) AS score
             |FROM w GROUP BY 1
             |ORDER BY score DESC, l_partkey LIMIT 25""".stripMargin),
      "dyadic 2^-age_weeks popularity: broadcast anchor date, one " +
        "hash join + rollup, exact unrounded scores, TakeOrdered cut"),

    // Calendar gap detector — the data-quality complement of
    // window_gap_fill: instead of repairing holes it REPORTS them
    // (an ingestion pipeline wants the alert before the imputation).
    // The expected daily spine per event type is generated from the
    // type's own [min, max] day range (sequence() — no calendar
    // table), anti-joined against observed days; output is one row
    // per missing day plus the per-type totals that make "3 of 30
    // days missing" readable. Spine size ∝ types × days (metadata-
    // scale), observed days come from one map-side-combined rollup;
    // the anti join is hash-keyed. Exact integers and dates only.
    Q("mon_calendar_gaps",
      (s, d) => {
        // PLANTED holes: the fixture has every type active every day
        // (review finding — empty-to-empty oracle compares prove
        // nothing), so 'error' events on multiple-of-5 days are
        // dropped before observation; the detector must then emit
        // exactly those days, and both engines replay the plant
        val obs = graft.core.Caching.persistOnce(load(s, d, "events")
          .filter(!(col("event_type") === "error" &&
            dayofmonth(col("ts")) % 5 === 0))
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .distinct())
        val rng = obs.groupBy("event_type")
          .agg(min(col("day")).as("lo"), max(col("day")).as("hi"),
            count(lit(1)).as("n_observed"))
        val spine = rng.select(col("event_type"), col("n_observed"),
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        spine.join(obs, Seq("event_type", "day"), "left_anti")
          .select(col("event_type"), col("day").cast("date").as("missing_day"),
            col("n_observed"))
      },
      Some("""WITH obs AS (SELECT DISTINCT event_type,
             |               CAST(ts AS DATE) AS day FROM events
             |             WHERE NOT (event_type = 'error'
             |               AND day(ts) % 5 = 0)),
             |rng AS (SELECT event_type, min(day) AS lo, max(day) AS hi,
             |               count(*) AS n_observed
             |        FROM obs GROUP BY 1),
             |spine AS (SELECT event_type, n_observed,
             |            unnest(generate_series(lo, hi,
             |              INTERVAL 1 DAY)) AS day
             |          FROM rng)
             |SELECT event_type, CAST(day AS DATE) AS missing_day,
             |       n_observed
             |FROM spine ANTI JOIN obs USING (event_type, day)""".stripMargin),
      "missing-day report per type: self-derived daily spine anti-" +
        "joined against observed days — metadata-scale spine, exact"),

    // Join-cardinality prediction: |A ⋈ B| = Σ_k cA(k)·cB(k) computed
    // from the per-key count VECTORS — the estimate a cost-based
    // optimizer wants and the skew forecast an engineer wants BEFORE
    // paying for the join (the top product terms name the keys that
    // will dominate the shuffle; join_salted_skew is the cure this
    // diagnoses for). Two map-side-combined count rollups + one
    // key-keyed join of the O(keys) vectors — never the tables
    // themselves; everything exact integers. Output: the exact
    // predicted row count + the top-5 contributing keys with their
    // share of the join.
    Q("profile_join_cardinality",
      (s, d) => {
        val ca = load(s, d, "orders").groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("c_a"))
        val cb = load(s, d, "events").groupBy(col("user_id").as("k"))
          .agg(count(lit(1)).as("c_b"))
        val prod = persistOnce(ca.join(cb, "k")
          .select(col("k"), (col("c_a") * col("c_b")).as("rows_k")))
        val tot = prod.agg(sum(col("rows_k")).as("join_rows"))
        prod.crossJoin(broadcast(tot))
          .orderBy(col("rows_k").desc, col("k")).limit(5)
          .select(col("k").as("hot_key"), col("rows_k"), col("join_rows"),
            round(col("rows_k").cast("double") / col("join_rows"), 6)
              .as("share"))
      },
      Some("""WITH ca AS (SELECT o_custkey AS k, count(*) AS c_a
             |            FROM orders GROUP BY 1),
             |cb AS (SELECT user_id AS k, count(*) AS c_b
             |       FROM events GROUP BY 1),
             |prod AS (SELECT k, c_a * c_b AS rows_k
             |         FROM ca JOIN cb USING (k)),
             |tot AS (SELECT CAST(sum(rows_k) AS BIGINT) AS join_rows
             |        FROM prod)
             |SELECT k AS hot_key, rows_k, join_rows,
             |  round(CAST(rows_k AS DOUBLE) / join_rows, 6) AS share
             |FROM prod, tot
             |ORDER BY rows_k DESC, k LIMIT 5""".stripMargin),
      "exact join-size prediction + top-5 skew keys from O(keys) " +
        "count vectors — the pre-join shuffle forecast, never " +
        "touching the fact rows"),

    // DAU / WAU / stickiness: the product-health triple — daily
    // actives, trailing-7-day actives, and their ratio (what share of
    // the weekly audience shows up on a given day). Rolling DISTINCT
    // doesn't slide like a sum, so each (user, day) activity row
    // EXPLODES into the 7 trailing days it covers and WAU is a plain
    // count-distinct per covered day — shuffle ∝ activity × 7,
    // never users × days, and the window never recomputes. Days are
    // integer epoch-day indices; the first 6 days are emitted too
    // (partial trailing window, consistent in both engines);
    // stickiness is an exact-count ratio, identical IEEE division.
    Q("events_dau_wau_stickiness",
      (s, d) => {
        val ua = persistOnce(load(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct())
        val dau = ua.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        val wau = ua
          .select(col("user_id"),
            explode(expr("sequence(day, day + 6)")).as("day"))
          .groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, "day")
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau"), 6)
              .as("stickiness"))
      },
      Some("""WITH ua AS (SELECT DISTINCT user_id,
             |              epoch_us(ts) // 86400000000 AS day
             |            FROM events),
             |dau AS (SELECT day, count(DISTINCT user_id) AS dau
             |        FROM ua GROUP BY 1),
             |wau AS (SELECT day, count(DISTINCT user_id) AS wau
             |        FROM (SELECT user_id,
             |                unnest(generate_series(day, day + 6)) AS day
             |              FROM ua) e
             |        GROUP BY 1)
             |SELECT day, dau, wau,
             |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
             |FROM dau JOIN wau USING (day)""".stripMargin),
      "DAU/WAU/stickiness via the explode-7 trailing-distinct trick — " +
        "shuffle ∝ activity × 7, exact counts and ratios"),

    // Percent-of-parent hierarchical shares: every BI drill-down's
    // contribution column — each nation's revenue as a share of its
    // REGION, and each region's as a share of the TOTAL, in one
    // result. The fact table rolls up to nation grain ONCE (exact
    // cents), then the two ratio levels are windows over the
    // O(nations) aggregate — partition-by-region for the local share,
    // unpartitioned over ~25 rows for the region level; the fact
    // scan never repeats per level (the naive formulation re-
    // aggregates per hierarchy level). Shares are exact-integer
    // ratios rounded 6 dp.
    Q("join_percent_of_parent",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rev = load(s, d, "orders")
          .join(load(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(load(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(load(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val wr = Window.partitionBy(col("r_name"))
        val wt = Window.partitionBy()
        rev.select(col("r_name"), col("n_name"),
            round(col("cents") / 100.0, 2).as("revenue"),
            round(col("cents").cast("double") /
              sum(col("cents")).over(wr), 6).as("share_of_region"),
            round(sum(col("cents")).over(wr).cast("double") /
              sum(col("cents")).over(wt), 6).as("region_share_of_total"))
      },
      Some("""WITH rev AS (
             |  SELECT r_name, n_name,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY 1, 2)
             |SELECT r_name, n_name,
             |  round(cents / 100.0, 2) AS revenue,
             |  round(CAST(cents AS DOUBLE) /
             |    sum(cents) OVER (PARTITION BY r_name), 6)
             |    AS share_of_region,
             |  round(CAST(sum(cents) OVER (PARTITION BY r_name) AS DOUBLE)
             |    / sum(cents) OVER (), 6) AS region_share_of_total
             |FROM rev""".stripMargin),
      "two-level percent-of-parent from ONE nation-grain rollup — " +
        "ratio windows over the aggregate, exact-cents shares"),

    // Empirical survival / hazard curve of user engagement: S(t) =
    // share of users still active ≥ t days after their first event,
    // h(t) = the share of day-(t−1) survivors who stop exactly there —
    // retention's principled cousin (Kaplan-Meier). The fixture
    // observes every user to the horizon (no censoring), so KM
    // collapses EXACTLY to the empirical survival function — ratios
    // of integer counts, no cumulative float product anywhere (the
    // censored general case needs Π(1−h) and belongs to a numeric
    // library, not an exactness-gated oracle). One user-grain rollup
    // to lifetimes, one O(days) descending-cumulative window over the
    // lifetime HISTOGRAM, exact divisions rounded 6 dp.
    Q("events_survival_curve",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val life = load(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("user_id"))
          .agg((max(col("day")) - min(col("day"))).as("lifetime"))
        val hist = life.groupBy(col("lifetime"))
          .agg(count(lit(1)).as("ends_here"))
        val w = Window.orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist
          .withColumn("at_risk", sum(col("ends_here")).over(w))
          .crossJoin(broadcast(life.agg(count(lit(1)).as("n"))))
          .select(col("lifetime"), col("ends_here"), col("at_risk"),
            round(col("at_risk").cast("double") / col("n"), 6)
              .as("survival"),
            round(col("ends_here").cast("double") / col("at_risk"), 6)
              .as("hazard"))
      },
      Some("""WITH life AS (
             |  SELECT user_id,
             |    max(epoch_us(ts) // 86400000000)
             |      - min(epoch_us(ts) // 86400000000) AS lifetime
             |  FROM events GROUP BY 1),
             |hist AS (SELECT lifetime, count(*) AS ends_here
             |         FROM life GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM life),
             |ar AS (SELECT lifetime, ends_here, sum(ends_here) OVER (
             |         ORDER BY lifetime DESC
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |         AS at_risk
             |       FROM hist)
             |SELECT lifetime, ends_here, CAST(at_risk AS BIGINT) AS at_risk,
             |  round(CAST(at_risk AS DOUBLE) / n, 6) AS survival,
             |  round(CAST(ends_here AS DOUBLE) / at_risk, 6) AS hazard
             |FROM ar, n""".stripMargin),
      "survival and hazard by engagement lifetime: user rollup + one " +
        "descending cumulative window over the O(days) histogram — " +
        "exact-count KM under full observation"),

    // Behavioral bot scoring: humans are BURSTY, scripts are REGULAR —
    // the inter-arrival coefficient of variation (σ/μ of the gaps)
    // separates them better than volume alone (a Poisson-ish human
    // sits near CV≈1; a cron-driven client near 0). Gaps come from one
    // lag() tap per user over integer microseconds; their moments
    // (n, Σg, Σg²) are exact BIGINTs, so CV² = n·(n·Σg² − (Σg)²) /
    // ((n−1)·(Σg)²) is a pure integer-ratio double, identical in both
    // engines and flag-stable. Flag: CV² < 0.25 (σ < μ/2) with ≥ 20
    // gaps. Gaps are MINUTE-grain integers: at microsecond grain the
    // n·(n·Σg² − (Σg)²) numerator overflows BIGINT for month-long
    // spans (Σg ~ 2.6e12 µs squared is 6.7e24), while minute-grain
    // worst cases stay below 2^56 — the grain is part of the moment
    // discipline, not a convenience. One user-keyed sort + rollup.
    Q("events_bot_score",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        val gaps = load(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 60000000").as("us"))
          .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
          .filter(col("gap").isNotNull)
        gaps.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
            sum(col("gap") * col("gap")).as("sg2"))
          .filter(col("n_gaps") >= 20 && col("sg") > 0)
          .select(col("user_id"), col("n_gaps"),
            round((col("n_gaps") * (col("n_gaps") * col("sg2") -
              col("sg") * col("sg"))).cast("double") /
              ((col("n_gaps") - 1) * col("sg") * col("sg")).cast("double"),
              6).as("cv2"),
            ((col("n_gaps") * (col("n_gaps") * col("sg2") -
              col("sg") * col("sg"))).cast("double") /
              ((col("n_gaps") - 1) * col("sg") * col("sg")).cast("double")
              < 0.25).as("bot_like"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |              epoch_us(ts) // 60000000 AS us FROM events),
             |gaps AS (SELECT user_id,
             |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
             |      AS gap
             |  FROM ev),
             |mo AS (SELECT user_id, count(*) AS n_gaps,
             |         CAST(sum(gap) AS BIGINT) AS sg,
             |         CAST(sum(gap * gap) AS BIGINT) AS sg2
             |       FROM gaps WHERE gap IS NOT NULL GROUP BY 1)
             |SELECT user_id, n_gaps,
             |  round(CAST(n_gaps * (n_gaps * sg2 - sg * sg) AS DOUBLE)
             |    / CAST((n_gaps - 1) * sg * sg AS DOUBLE), 6) AS cv2,
             |  CAST(n_gaps * (n_gaps * sg2 - sg * sg) AS DOUBLE)
             |    / CAST((n_gaps - 1) * sg * sg AS DOUBLE) < 0.25
             |    AS bot_like
             |FROM mo WHERE n_gaps >= 20 AND sg > 0""".stripMargin),
      "inter-arrival regularity (CV² of gaps) from exact integer " +
        "moments — one lag tap per user, script-vs-human flag " +
        "bit-exact"),

    // Reciprocal best match: supplier-part pairs where each is the
    // OTHER's top by shipped quantity — the mutual-preference filter
    // behind dedupe-free entity matching, account pairing, and
    // "primary vendor" designation (one-directional top-1 is noisy:
    // a tiny part's best supplier is usually some giant that barely
    // notices it; reciprocity is the signal). One (supplier, part)
    // rollup, two rank windows OVER THE AGGREGATE (per part, per
    // supplier — deterministic total order with quantity desc, key
    // tie-breaks), one equi-join of the two top-1 sets. Exact
    // integers everywhere.
    Q("join_reciprocal_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sp = persistOnce(load(s, d, "lineitem")
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(col("l_quantity")).as("qty")))
        val byPart = Window.partitionBy(col("l_partkey"))
          .orderBy(col("qty").desc, col("l_suppkey"))
        val bySupp = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("qty").desc, col("l_partkey"))
        val topForPart = sp
          .withColumn("rk", row_number().over(byPart))
          .filter(col("rk") === 1)
          .select(col("l_partkey"), col("l_suppkey"), col("qty"))
        val topForSupp = sp
          .withColumn("rk", row_number().over(bySupp))
          .filter(col("rk") === 1)
          .select(col("l_suppkey").as("s2"), col("l_partkey").as("p2"))
        topForPart.join(topForSupp,
            col("l_suppkey") === col("s2") && col("l_partkey") === col("p2"))
          .select(col("l_partkey"), col("l_suppkey"), col("qty"))
      },
      Some("""WITH sp AS (SELECT l_suppkey, l_partkey,
             |             sum(l_quantity) AS qty
             |           FROM lineitem GROUP BY 1, 2),
             |tp AS (SELECT l_partkey, l_suppkey, qty FROM (
             |         SELECT *, row_number() OVER (PARTITION BY l_partkey
             |           ORDER BY qty DESC, l_suppkey) AS rk FROM sp) r
             |       WHERE rk = 1),
             |ts AS (SELECT l_suppkey AS s2, l_partkey AS p2 FROM (
             |         SELECT *, row_number() OVER (PARTITION BY l_suppkey
             |           ORDER BY qty DESC, l_partkey) AS rk FROM sp) r
             |       WHERE rk = 1)
             |SELECT l_partkey, l_suppkey, qty
             |FROM tp JOIN ts ON l_suppkey = s2 AND l_partkey = p2""".stripMargin),
      "mutual top-1 supplier-part pairs: two rank windows over one " +
        "rollup + an equi-join of the top sets — exact quantities"),

    // Top conversion paths: the ordered event-type sequences that
    // precede a purchase, ranked by how many converting users walked
    // them — the funnel's free-form cousin (funnels test a HYPOTHESIS
    // path; this REPORTS the observed ones, including the weird
    // detours worth investigating). Per converting user: events up to
    // and including the FIRST purchase, sorted into a path string by
    // (ts, event_id) — sort AFTER collect_list, because collect order
    // is partition-nondeterministic (list aggregation + list_sort on
    // the DuckDB side, same contract). Paths cap at the first
    // purchase so they're bounded by per-user pre-conversion
    // activity; top-10 with a path tie-break.
    Q("events_top_paths",
      (s, d) => {
        val ev = load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val firstPur = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(col("us")).as("pus"))
        val path = ev.join(firstPur, "user_id")
          .filter(col("us") <= col("pus"))
          .groupBy(col("user_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("event_type").as("t")))),
            e => e.getField("t")), ">").as("path"))
        path.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path")).limit(10)
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type,
             |              epoch_us(ts) AS us FROM events),
             |fp AS (SELECT user_id, min(us) AS pus FROM ev
             |       WHERE event_type = 'purchase' GROUP BY 1),
             |path AS (SELECT user_id, array_to_string(list_transform(
             |    list_sort(list({'us': us, 'eid': event_id,
             |                    't': event_type})),
             |    e -> e.t), '>') AS path
             |  FROM ev JOIN fp USING (user_id)
             |  WHERE us <= pus GROUP BY 1)
             |SELECT path, count(*) AS n_users
             |FROM path GROUP BY 1
             |ORDER BY n_users DESC, path LIMIT 10""".stripMargin),
      "observed pre-conversion paths ranked by walkers: bounded per-" +
        "user collect + deterministic in-array sort, top-10 exact"),

    // Rank-biased overlap (Webber et al.) between two part rankings —
    // "did the ranking change where it matters": top-weighted list
    // similarity between rank-by-quantity and rank-by-revenue, the
    // metric for comparing a new ranker against the incumbent without
    // pretending depth-1000 swaps matter as much as depth-1 swaps.
    // p = ½ makes the depth weights dyadic; overlap-at-depth comes
    // from the max(rank_a, rank_b) histogram (an item is inside both
    // top-d lists iff its WORSE rank ≤ d), cumulated over a dense
    // depth grid d = 1..20 — one O(depths) frame, never a per-depth
    // self-join. Truncated at depth 20 without the extrapolation
    // term (this is RBO_MIN at p=½, where the tail weight 2^-20 is
    // already negligible). The 20-term sum is order-unstable →
    // rounded 6 dp; everything upstream is exact integers.
    Q("eval_rank_rbo",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val items = load(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_quantity")).as("qty"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("cents"))
        val ranked = persistOnce(items
          .withColumn("ra", row_number().over(
            Window.orderBy(col("qty").desc, col("l_partkey"))))
          .withColumn("rb", row_number().over(
            Window.orderBy(col("cents").desc, col("l_partkey"))))
          .select(greatest(col("ra"), col("rb")).as("md"))
          // only items inside SOME top-20 can contribute — the theta
          // join below is then ≤ 20 × 20 pairs, not 20 × items
          .filter(col("md") <= 20))
        val grid = ranked.sparkSession.range(1, 21)
          .select(col("id").cast("int").as("dd"))
        val overlap = grid.join(ranked, col("md") <= col("dd"), "left")
          .groupBy(col("dd"))
          .agg(count(col("md")).as("ov"))
        overlap
          .select((pow(lit(2.0), -(col("dd") - 1).cast("double")) *
            col("ov") / col("dd")).as("term"))
          .agg(round(sum(col("term")) * 0.5, 6).as("rbo_min"))
      },
      Some("""WITH items AS (SELECT l_partkey, sum(l_quantity) AS qty,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS cents
             |  FROM lineitem GROUP BY 1),
             |ranked AS (SELECT md FROM (
             |  SELECT greatest(
             |    row_number() OVER (ORDER BY qty DESC, l_partkey),
             |    row_number() OVER (ORDER BY cents DESC, l_partkey))
             |    AS md
             |  FROM items) r WHERE md <= 20),
             |grid AS (SELECT CAST(unnest(generate_series(1, 20))
             |           AS INTEGER) AS dd),
             |overlap AS (SELECT dd, count(md) AS ov
             |  FROM grid LEFT JOIN ranked ON md <= dd GROUP BY 1)
             |SELECT round(sum(pow(2.0, -CAST(dd - 1 AS DOUBLE))
             |  * ov / dd) * 0.5, 6) AS rbo_min
             |FROM overlap""".stripMargin),
      "top-weighted ranking agreement (RBO, p=1/2): worse-rank " +
        "histogram cumulated over a 20-depth grid — no per-depth " +
        "self-joins, dyadic weights, 6 dp"),

    // ---- scored-classifier evaluation (AUC + Brier) ------------------
    // The ranking-eval companion of eval_ndcg/eval_rank_rbo for
    // CLASSIFIER scores (quality filters, toxicity/spam gates — the
    // models a curation pipeline thresholds at 100 TB). Labels and
    // milli-scores are planted from the md5 hash RNG with real signal
    // (positives shift +0.4), so both metrics are non-degenerate at
    // every SF. AUC is the Mann-Whitney rank statistic computed on the
    // DISTINCT-SCORE rollup (≤1000 rows — the global rank window runs
    // there, never on raw rows) with exact mid-rank tie handling kept
    // in integers (rank2 = 2·midrank); Brier stays integer too —
    // Σ(s−1000·l)² in milli-units — so both final divisions are the
    // only floating ops and the result hash-matches unrounded. One
    // map-side-combined rollup + O(scores) window; no per-pair
    // comparisons (the naive AUC is n_pos·n_neg pairs).
    Q("eval_auc_brier",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = plantedScores(s, d)
        val g = ev.groupBy(col("s"))
          .agg(count(lit(1)).as("cnt"), sum(col("l")).as("pos"))
          .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("s"))))
          .withColumn("rank2", col("cum") * 2 - col("cnt") + 1)
        g.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("n_pos"),
            sum(col("pos") * col("rank2")).as("num2"),
            sum(col("pos") * (col("s") - 1000) * (col("s") - 1000) +
              (col("cnt") - col("pos")) * col("s") * col("s")).as("ssq"))
          .select(col("n"), col("n_pos"),
            ((col("num2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
              (lit(2.0) * col("n_pos") * (col("n") - col("n_pos"))))
              .as("auc"),
            (col("ssq").cast("double") / (col("n") * lit(1000000.0)))
              .as("brier"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(concat('0x', substr(md5(concat('lbl|',
             |      CAST(event_id AS VARCHAR))), 1, 1)) AS INTEGER) % 2 AS l,
             |    CAST(concat('0x', substr(md5(concat('scr|',
             |      CAST(event_id AS VARCHAR))), 1, 3)) AS INTEGER) % 1000 AS u
             |  FROM events),
             |sc AS (SELECT l, (u * 6) // 10 + l * 400 AS s FROM ev),
             |g AS (
             |  SELECT s, count(*) AS cnt, sum(l) AS pos FROM sc GROUP BY 1),
             |r AS (
             |  SELECT s, cnt, pos, sum(cnt) OVER (ORDER BY s) AS cum
             |  FROM g),
             |f AS (
             |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(pos * (cum * 2 - cnt + 1)) AS BIGINT) AS num2,
             |    CAST(sum(pos * (s - 1000) * (s - 1000)
             |      + (cnt - pos) * s * s) AS BIGINT) AS ssq
             |  FROM r)
             |SELECT n, n_pos,
             |  CAST(num2 - n_pos * (n_pos + 1) AS DOUBLE)
             |    / (2.0 * n_pos * (n - n_pos)) AS auc,
             |  CAST(ssq AS DOUBLE) / (n * 1000000.0) AS brier
             |FROM f""".stripMargin),
      "classifier eval: Mann-Whitney AUC with exact mid-rank ties + " +
        "Brier score over planted-signal milli-scores — distinct-score " +
        "rollup, integers end-to-end, no n_pos×n_neg pair compare"),

    // The operating-point view AUC's single scalar hides: precision /
    // recall / F1 at EVERY distinct score threshold (predict positive
    // when s >= t). Same planted-score derivation and distinct-score
    // rollup as eval_auc_brier; TP/FP at each threshold are reverse-
    // cumulative integer sums over the value-domain frame (never row
    // grain), and all three metrics ship as single exact-integer
    // divisions — F1 in its 2TP/(2TP+FP+FN) form so no compound
    // double chain exists to diverge.
    Q("eval_pr_curve",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = plantedScores(s, d)
        val g = ev.groupBy(col("s"))
          .agg(count(lit(1)).as("cnt"), sum(col("l")).as("pos"))
        val w = Window.orderBy(col("s"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        g.withColumn("tp", sum(col("pos")).over(w))
          .withColumn("pp", sum(col("cnt")).over(w))
          // total positives = one full-frame window over the SAME sort,
          // not a second aggregation subplan over the rollup
          .withColumn("n_pos", sum(col("pos")).over(Window.orderBy(col("s"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .select(col("s").as("threshold"), col("tp"),
            (col("pp") - col("tp")).as("fp"),
            (col("tp").cast("double") / col("pp")).as("precision"),
            (col("tp").cast("double") / col("n_pos")).as("recall"),
            ((lit(2L) * col("tp")).cast("double") /
              (col("pp") + col("n_pos"))).as("f1"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(concat('0x', substr(md5(concat('lbl|',
             |      CAST(event_id AS VARCHAR))), 1, 1)) AS INTEGER) % 2 AS l,
             |    CAST(concat('0x', substr(md5(concat('scr|',
             |      CAST(event_id AS VARCHAR))), 1, 3)) AS INTEGER) % 1000 AS u
             |  FROM events),
             |sc AS (SELECT l, (u * 6) // 10 + l * 400 AS s FROM ev),
             |g AS (
             |  SELECT s, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(l) AS BIGINT) AS pos
             |  FROM sc GROUP BY 1),
             |r AS (
             |  SELECT s,
             |    CAST(sum(pos) OVER (ORDER BY s ROWS BETWEEN CURRENT ROW
             |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
             |    CAST(sum(cnt) OVER (ORDER BY s ROWS BETWEEN CURRENT ROW
             |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS pp,
             |    CAST(sum(pos) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_pos
             |  FROM g)
             |SELECT CAST(s AS BIGINT) AS threshold, tp, pp - tp AS fp,
             |  CAST(tp AS DOUBLE) / pp AS precision,
             |  CAST(tp AS DOUBLE) / n_pos AS recall,
             |  CAST(2 * tp AS DOUBLE) / (pp + n_pos) AS f1
             |FROM r""".stripMargin),
      "precision/recall/F1 at every distinct threshold: reverse-" +
        "cumulative integer sums on the score-domain rollup, exact " +
        "single divisions"),

    // Corpus-level BLEU-2 between deterministically paired documents
    // (even doc_id = reference, odd = candidate — the dense-id pairing;
    // 31-token vocab guarantees non-degenerate overlap at every SF).
    // Clipped n-gram counts come from ONE role-tagged explode per gram
    // order: conditional sums per (pair, gram) make the clip a
    // least(cand, ref) with NO cand⋈ref join, and incomplete pairs
    // contribute zero clip AND zero denominator, so they cancel
    // exactly. Integer sums end-to-end; p1/p2 are single exact
    // divisions; bp/bleu round 4dp for the libm exp/ln (the KM rule:
    // zero-factor CASE before ln on both engines).
    Q("eval_bleu_overlap",
      (s, d) => {
        val t = graft.core.Caching.persistOnce(
          load(s, d, "documents").select(
            expr("doc_id DIV 2").as("pair"),
            (col("doc_id") % 2 === 1).cast("long").as("is_c"),
            split(col("text"), " ").as("w")))
        val lens = t.groupBy(col("pair"))
          .agg(count(lit(1)).as("nr"),
            sum(when(col("is_c") === 1, size(col("w"))).otherwise(0))
              .as("clen"),
            sum(when(col("is_c") === 0, size(col("w"))).otherwise(0))
              .as("rlen"))
          .filter(col("nr") === 2)
          .agg(count(lit(1)).as("n_pairs"), sum(col("clen")).as("c_tot"),
            sum(col("rlen")).as("r_tot"),
            sum(col("clen") - 1).as("c_tot2"))
        def clipSum(grams: DataFrame, name: String): DataFrame =
          grams.groupBy(col("pair"), col("g"))
            .agg(sum(col("is_c")).as("cc"),
              sum(lit(1L) - col("is_c")).as("rc"))
            .agg(sum(least(col("cc"), col("rc"))).as(name))
        val clip1 = clipSum(t.select(col("pair"), col("is_c"),
          explode(col("w")).as("g")), "clip1")
        val clip2 = clipSum(t.filter(size(col("w")) >= 2)
          .select(col("pair"), col("is_c"), explode(expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(w[i-1], ' ', w[i]))")).as("g")), "clip2")
        lens.crossJoin(clip1).crossJoin(clip2)
          .select(col("n_pairs"),
            (col("clip1").cast("double") / col("c_tot")).as("p1"),
            (col("clip2").cast("double") / col("c_tot2")).as("p2"),
            when(col("c_tot") > col("r_tot"), lit(1.0))
              .otherwise(round(exp(lit(1.0) -
                col("r_tot").cast("double") / col("c_tot")), 4)).as("bp"),
            when(col("clip1") === 0 || col("clip2") === 0, lit(0.0))
              .otherwise(round(
                when(col("c_tot") > col("r_tot"), lit(1.0))
                  .otherwise(exp(lit(1.0) -
                    col("r_tot").cast("double") / col("c_tot"))) *
                  exp((log(col("clip1").cast("double") / col("c_tot")) +
                    log(col("clip2").cast("double") / col("c_tot2"))) /
                    lit(2.0)), 4)).as("bleu"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id // 2 AS pair,
             |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_c,
             |    string_split(text, ' ') AS w
             |  FROM documents),
             |lens AS (
             |  SELECT pair, count(*) AS nr,
             |    CAST(sum(CASE WHEN is_c = 1 THEN len(w) ELSE 0 END)
             |      AS BIGINT) AS clen,
             |    CAST(sum(CASE WHEN is_c = 0 THEN len(w) ELSE 0 END)
             |      AS BIGINT) AS rlen
             |  FROM t GROUP BY 1),
             |lt AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             |    CAST(sum(clen) AS BIGINT) AS c_tot,
             |    CAST(sum(rlen) AS BIGINT) AS r_tot,
             |    CAST(sum(clen - 1) AS BIGINT) AS c_tot2
             |  FROM lens WHERE nr = 2),
             |uc AS (
             |  SELECT pair, g, CAST(sum(is_c) AS BIGINT) AS cc,
             |    CAST(sum(1 - is_c) AS BIGINT) AS rc
             |  FROM (SELECT pair, is_c, unnest(w) AS g FROM t)
             |  GROUP BY 1, 2),
             |u1 AS (SELECT CAST(sum(least(cc, rc)) AS BIGINT) AS clip1
             |       FROM uc),
             |bc AS (
             |  SELECT pair, g, CAST(sum(is_c) AS BIGINT) AS cc,
             |    CAST(sum(1 - is_c) AS BIGINT) AS rc
             |  FROM (SELECT pair, is_c,
             |          unnest(list_transform(generate_series(1, len(w) - 1),
             |            i -> w[i] || ' ' || w[i+1])) AS g
             |        FROM t WHERE len(w) >= 2)
             |  GROUP BY 1, 2),
             |b1 AS (SELECT CAST(sum(least(cc, rc)) AS BIGINT) AS clip2
             |       FROM bc)
             |SELECT n_pairs,
             |  CAST(clip1 AS DOUBLE) / c_tot AS p1,
             |  CAST(clip2 AS DOUBLE) / c_tot2 AS p2,
             |  CASE WHEN c_tot > r_tot THEN 1.0
             |    ELSE round(exp(1.0 - CAST(r_tot AS DOUBLE) / c_tot), 4)
             |    END AS bp,
             |  CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0.0
             |    ELSE round((CASE WHEN c_tot > r_tot THEN 1.0
             |        ELSE exp(1.0 - CAST(r_tot AS DOUBLE) / c_tot) END) *
             |      exp((ln(CAST(clip1 AS DOUBLE) / c_tot) +
             |        ln(CAST(clip2 AS DOUBLE) / c_tot2)) / 2.0), 4)
             |    END AS bleu
             |FROM lt CROSS JOIN u1 CROSS JOIN b1""".stripMargin),
      "corpus-level BLEU-2 over paired documents: clipped n-gram " +
        "counts via role-tagged conditional sums, no cand-ref join"),

    // Calibration companion: reliability-diagram bins over the same
    // planted scores. O(bins) output; mean predicted vs observed
    // positive rate per decile plus the per-bin gap — all integer
    // ratios (single exact divisions), the ECE ingredients without an
    // order-unstable weighted sum.
    Q("eval_calibration_bins",
      (s, d) => {
        val ev = plantedScores(s, d)
        ev.groupBy(expr("s DIV 100").cast("int").as("bin"))
          .agg(count(lit(1)).as("n"), sum(col("s")).as("ssum"),
            sum(col("l")).as("pos"))
          .select(col("bin"), col("n"),
            (col("ssum").cast("double") / (col("n") * lit(1000.0)))
              .as("mean_pred"),
            (col("pos").cast("double") / col("n")).as("frac_pos"),
            abs(col("ssum").cast("double") / (col("n") * lit(1000.0)) -
              col("pos").cast("double") / col("n")).as("gap"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(concat('0x', substr(md5(concat('lbl|',
             |      CAST(event_id AS VARCHAR))), 1, 1)) AS INTEGER) % 2 AS l,
             |    CAST(concat('0x', substr(md5(concat('scr|',
             |      CAST(event_id AS VARCHAR))), 1, 3)) AS INTEGER) % 1000 AS u
             |  FROM events),
             |sc AS (SELECT l, (u * 6) // 10 + l * 400 AS s FROM ev),
             |g AS (
             |  SELECT CAST(s // 100 AS INTEGER) AS bin,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(s) AS BIGINT) AS ssum,
             |    CAST(sum(l) AS BIGINT) AS pos
             |  FROM sc GROUP BY 1)
             |SELECT bin, n,
             |  CAST(ssum AS DOUBLE) / (n * 1000.0) AS mean_pred,
             |  CAST(pos AS DOUBLE) / n AS frac_pos,
             |  abs(CAST(ssum AS DOUBLE) / (n * 1000.0)
             |    - CAST(pos AS DOUBLE) / n) AS gap
             |FROM g""".stripMargin),
      "reliability-diagram calibration bins over the planted scores: " +
        "decile rollup, integer ratios, O(bins) output"),

    // Isotonic calibration (PAV) in CLOSED FORM: the monotone fit is
    // fitted(i) = max_{j≤i} min_{k≥i} weightedMean(bin j..k) — the
    // minimax characterization of pool-adjacent-violators — so the
    // whole regression is algebra over the O(bins²) interval means of
    // the 10-bin reliability rollup: no iterative pooling, no driver
    // loop, and the oracle replays it exactly. Interval means are
    // single exact divisions of integer prefix sums; the max-min
    // selection compares identical doubles in both engines. The
    // monotone flag is emitted as a value-checked column — isotonic
    // output must be non-decreasing by construction.
    Q("eval_isotonic_calibration",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bins = persistOnce(plantedScores(s, d)
          .groupBy(expr("s DIV 100").cast("int").as("bin"))
          .agg(count(lit(1)).as("n"), sum(col("l")).as("pos")))
        val pairs = bins.select(col("bin").as("j"))
          .join(bins.select(col("bin").as("k")), col("j") <= col("k"))
        val ivm = pairs.join(bins, col("bin").between(col("j"), col("k")))
          .groupBy(col("j"), col("k"))
          .agg((sum(col("pos")).cast("double") / sum(col("n"))).as("m"))
        val fitted = bins.select(col("bin"))
          .join(ivm, col("j") <= col("bin") && col("bin") <= col("k"))
          .groupBy(col("bin"), col("j")).agg(min(col("m")).as("mn"))
          .groupBy(col("bin")).agg(max(col("mn")).as("fitted"))
        val out = bins.join(fitted, "bin")
          .select(col("bin"), col("n"),
            (col("pos").cast("double") / col("n")).as("frac_pos"),
            col("fitted"))
        out.withColumn("monotone",
          col("fitted") >= coalesce(lag(col("fitted"), 1)
            .over(Window.orderBy(col("bin"))), lit(0.0)))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(concat('0x', substr(md5(concat('lbl|',
             |      CAST(event_id AS VARCHAR))), 1, 1)) AS INTEGER) % 2 AS l,
             |    CAST(concat('0x', substr(md5(concat('scr|',
             |      CAST(event_id AS VARCHAR))), 1, 3)) AS INTEGER) % 1000 AS u
             |  FROM events),
             |sc AS (SELECT l, (u * 6) // 10 + l * 400 AS s FROM ev),
             |bins AS (
             |  SELECT CAST(s // 100 AS INTEGER) AS bin,
             |    CAST(count(*) AS BIGINT) AS n, CAST(sum(l) AS BIGINT) AS pos
             |  FROM sc GROUP BY 1),
             |ivm AS (
             |  SELECT j.bin AS j, k.bin AS k,
             |    CAST(sum(b.pos) AS DOUBLE) / sum(b.n) AS m
             |  FROM bins j JOIN bins k ON j.bin <= k.bin
             |  JOIN bins b ON b.bin BETWEEN j.bin AND k.bin
             |  GROUP BY 1, 2),
             |fit AS (
             |  SELECT bin, max(mn) AS fitted FROM (
             |    SELECT i.bin, ivm.j, min(m) AS mn
             |    FROM bins i JOIN ivm ON ivm.j <= i.bin AND i.bin <= ivm.k
             |    GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT bin, n, CAST(pos AS DOUBLE) / n AS frac_pos, fitted,
             |  fitted >= coalesce(lag(fitted) OVER (ORDER BY bin), 0.0)
             |    AS monotone
             |FROM bins JOIN fit USING (bin)""".stripMargin),
      "isotonic calibration via the minimax PAV closed form: " +
        "max-min over O(bins²) exact interval means — no iterative " +
        "pooling; monotonicity emitted as a value-checked column"),

    // Empirical-Bayes (James-Stein) shrinkage of group means — the
    // partial-pooling estimator experimentation platforms apply to
    // per-segment metrics with uneven n: each group mean moves toward
    // the grand mean by B_g = τ²/(τ² + σ²/n_g), with σ² the pooled
    // within-group variance and τ² the method-of-moments between-group
    // variance (floored at 0). Group moments are exact integer-dollar
    // sums (map-side combined — Σv² stays < 2⁶³ at dollar grain, the
    // overflow-at-worst-case rule); every CROSS-GROUP reduction of
    // derived doubles folds in ONE deterministic order (cumulative
    // window over the category-ordered 5-row rollup, last row taken),
    // so the whole estimator chain hash-matches unrounded.
    Q("agg_eb_shrinkage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val g = load(s, d, "orders")
          .select(col("o_orderpriority").as("category"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100")
              .as("v"))
          .groupBy(col("category"))
          // Σv² widened to DECIMAL: dollar² summands wrap a long near
          // 2.5e7 rows (~sf16) — the r9 Welch class (audit v2)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
            sum(col("v").cast("decimal(19,0)") *
              col("v").cast("decimal(19,0)")).as("s2"))
        val tot = g.agg(sum(col("n")).as("bn"), sum(col("s1")).as("bs1"),
          count(lit(1)).as("ng"))
        val gg = g.crossJoin(broadcast(tot))
          .withColumn("gm",
            col("bs1").cast("double") / col("bn").cast("double"))
          .withColumn("m", col("s1").cast("double") / col("n").cast("double"))
          .withColumn("ssw",
            col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") /
                col("n").cast("double"))
          .withColumn("ssb",
            col("n").cast("double") * ((col("m") - col("gm")) *
              (col("m") - col("gm"))))
          .withColumn("n2", col("n") * col("n"))
        val wOrd = Window.orderBy(col("category"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val folded = gg
          .withColumn("cssw", sum(col("ssw")).over(wOrd))
          .withColumn("cssb", sum(col("ssb")).over(wOrd))
          .withColumn("cn2", sum(col("n2")).over(wOrd))
          .withColumn("rk", row_number().over(Window.orderBy(col("category"))))
        val last = folded.filter(col("rk") === col("ng"))
          .select(col("cssw"), col("cssb"), col("cn2"))
        gg.crossJoin(broadcast(last))
          .withColumn("sigma2",
            col("cssw") / (col("bn") - col("ng")).cast("double"))
          .withColumn("msb",
            col("cssb") / (col("ng") - 1).cast("double"))
          .withColumn("nbar",
            (col("bn").cast("double") -
              col("cn2").cast("double") / col("bn").cast("double")) /
              (col("ng") - 1).cast("double"))
          .withColumn("tau2",
            greatest((col("msb") - col("sigma2")) / col("nbar"), lit(0.0)))
          .withColumn("b",
            col("tau2") / (col("tau2") + col("sigma2") /
              col("n").cast("double")))
          .select(col("category"), col("n"), col("m").as("raw_mean"),
            (col("gm") + col("b") * (col("m") - col("gm")))
              .as("shrunk_mean"),
            col("b").as("shrink_weight"))
      },
      Some("""WITH g AS (
             |  SELECT o_orderpriority AS category,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100)
             |      AS BIGINT) AS s1,
             |    CAST(sum((CAST(round(o_totalprice * 100) AS BIGINT) // 100)
             |      * (CAST(round(o_totalprice * 100) AS BIGINT) // 100))
             |      AS BIGINT) AS s2
             |  FROM orders GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(n) AS BIGINT) AS bn,
             |    CAST(sum(s1) AS BIGINT) AS bs1,
             |    CAST(count(*) AS BIGINT) AS ng
             |  FROM g),
             |gg AS (
             |  SELECT category, n, s1, s2, bn, bs1, ng,
             |    CAST(bs1 AS DOUBLE) / CAST(bn AS DOUBLE) AS gm,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             |    CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |      / CAST(n AS DOUBLE) AS ssw,
             |    CAST(n AS DOUBLE)
             |      * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
             |          - CAST(bs1 AS DOUBLE) / CAST(bn AS DOUBLE))
             |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
             |          - CAST(bs1 AS DOUBLE) / CAST(bn AS DOUBLE))) AS ssb,
             |    n * n AS n2
             |  FROM g CROSS JOIN tot),
             |folded AS (
             |  SELECT *,
             |    sum(ssw) OVER (ORDER BY category
             |      ROWS UNBOUNDED PRECEDING) AS cssw,
             |    sum(ssb) OVER (ORDER BY category
             |      ROWS UNBOUNDED PRECEDING) AS cssb,
             |    sum(n2) OVER (ORDER BY category
             |      ROWS UNBOUNDED PRECEDING) AS cn2,
             |    row_number() OVER (ORDER BY category) AS rk
             |  FROM gg),
             |last AS (
             |  SELECT cssw, cssb, CAST(cn2 AS BIGINT) AS cn2
             |  FROM folded WHERE rk = ng),
             |sc AS (
             |  SELECT *,
             |    cssw / CAST(bn - ng AS DOUBLE) AS sigma2,
             |    cssb / CAST(ng - 1 AS DOUBLE) AS msb,
             |    (CAST(bn AS DOUBLE) - CAST(cn2 AS DOUBLE)
             |      / CAST(bn AS DOUBLE)) / CAST(ng - 1 AS DOUBLE) AS nbar
             |  FROM gg, last)
             |SELECT category, n, m AS raw_mean,
             |  gm + (greatest((msb - sigma2) / nbar, 0.0)
             |    / (greatest((msb - sigma2) / nbar, 0.0)
             |      + sigma2 / CAST(n AS DOUBLE))) * (m - gm) AS shrunk_mean,
             |  greatest((msb - sigma2) / nbar, 0.0)
             |    / (greatest((msb - sigma2) / nbar, 0.0)
             |      + sigma2 / CAST(n AS DOUBLE)) AS shrink_weight
             |FROM sc""".stripMargin),
      "Empirical-Bayes (James-Stein) partial pooling of group means: " +
        "exact integer-dollar moments, cross-group double reductions " +
        "folded in ONE deterministic category order — estimator chain " +
        "hash-matches unrounded"),

    // Interval COALESCE (union of overlapping intervals) — the
    // companion of window_sweep_concurrency: that query counts
    // concurrent intervals, this one merges them, the dedup every
    // uptime/billing/coverage metric needs (raw durations double-count
    // overlap). Gaps-and-islands: per key, an interval starts a new
    // island iff its start exceeds the running max end of every
    // earlier interval — ONE user-keyed window pass (running max over
    // the start-ordered frame EXCLUSIVE of the current row), island
    // ids from the flag's running sum, two keyed rollups. All
    // arithmetic is integer micros: covered time per island =
    // max(end) − min(start) exactly, so the union length is exact and
    // the double-counting delta (raw − covered) is value-checked.
    Q("window_interval_coalesce",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val iv = load(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("st"),
            (unix_micros(col("ts")) +
              (round(col("value")).cast("long") + 1) * 60000000L).as("en"),
            col("event_id"))
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("st"), col("event_id"))
        val flagged = iv
          .withColumn("prev_max_end",
            max(col("en")).over(wOrd.rowsBetween(
              Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_end").isNull ||
              col("st") > col("prev_max_end"), 1L).otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wOrd))
        flagged.groupBy(col("user_id"), col("island"))
          .agg(min(col("st")).as("ist"), max(col("en")).as("ien"),
            count(lit(1)).as("n"), sum(col("en") - col("st")).as("raw"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_islands"),
            sum(col("n")).as("n_intervals"),
            sum(col("ien") - col("ist")).as("cov_us"),
            (sum(col("raw")) - sum(col("ien") - col("ist"))).as("ov_us"))
          .select(col("user_id"), col("n_islands"), col("n_intervals"),
            expr("cov_us DIV 60000000").as("covered_min"),
            expr("ov_us DIV 60000000").as("overlap_min"))
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id,
             |    epoch_us(ts) AS st,
             |    epoch_us(ts) + (CAST(round(value) AS BIGINT) + 1)
             |      * 60000000 AS en
             |  FROM events WHERE value IS NOT NULL),
             |f AS (
             |  SELECT *,
             |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prev_max_end
             |  FROM iv),
             |fl AS (
             |  SELECT *, CASE WHEN prev_max_end IS NULL
             |      OR st > prev_max_end THEN 1 ELSE 0 END AS new_island
             |  FROM f),
             |isl AS (
             |  SELECT *, sum(new_island) OVER (PARTITION BY user_id
             |    ORDER BY st, event_id) AS island
             |  FROM fl),
             |g AS (
             |  SELECT user_id, island, min(st) AS ist, max(en) AS ien,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(en - st) AS BIGINT) AS raw
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
             |  CAST(sum(n) AS BIGINT) AS n_intervals,
             |  CAST(sum(ien - ist) AS BIGINT) // 60000000 AS covered_min,
             |  CAST(sum(raw) - sum(ien - ist) AS BIGINT) // 60000000
             |    AS overlap_min
             |FROM g GROUP BY 1""".stripMargin),
      "interval union via gaps-and-islands: one user-keyed window pass " +
        "(running max end, exclusive frame), exact integer-micro " +
        "coverage and overlap — the dedup every uptime/billing metric " +
        "needs"),

    // Floor-clamped running balance (inventory that cannot go
    // negative) — the textbook "window functions can't do recursion"
    // computation: balance_t = max(0, balance_{t-1} + delta_t) looks
    // sequentially dependent, but the one-sided clamp has an exact
    // closed form over plain prefix aggregates:
    //   clamped_t = prefix_t − min(0, running_min(prefix)_t)
    // (the floor absorbs exactly the deepest sub-zero excursion so
    // far). So the whole per-supplier stock simulation — receipts on
    // returned lines, issues on shipped lines — is TWO stacked windows
    // over ONE supplier-keyed exchange plus a rollup, where the naive
    // reading would reach for mapPartitions or a UDAF and serialize
    // per key. Lost demand (units the floor swallowed), final and
    // peak stock, and stockout events all fall out of the same pass.
    // Every quantity is integer units; identical duplicate movement
    // rows commute inside the order (same delta ⇒ permutation-
    // invariant prefix multiset), so the hash compare is exact. The
    // two-sided clamp (finite capacity) has NO such closed form —
    // that one genuinely needs keyed state (StatefulOps.tokenBucket).
    Q("window_clamped_balance",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val mv = load(s, d, "lineitem").select(col("l_suppkey"),
          when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(-col("l_quantity")).cast("long").as("delta"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"), col("delta"))
        val run = mv
          .withColumn("prefix", sum(col("delta")).over(w))
          .withColumn("runmin", min(col("prefix")).over(w))
          .withColumn("stock",
            col("prefix") - least(lit(0L), col("runmin")))
        run.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_moves"),
            sum(when(col("delta") > 0, col("delta")).otherwise(0L))
              .as("received"),
            sum(when(col("delta") < 0, -col("delta")).otherwise(0L))
              .as("demanded"),
            max(col("stock")).as("peak_stock"),
            (sum(col("delta")) - least(lit(0L), min(col("prefix"))))
              .as("final_stock"),
            (-least(lit(0L), min(col("prefix")))).as("lost_units"),
            sum(when(col("delta") < 0 && col("stock") === 0, 1L)
              .otherwise(0L)).as("stockout_moves"))
          .select(col("l_suppkey"), col("n_moves"), col("received"),
            col("demanded"), col("peak_stock"), col("final_stock"),
            col("lost_units"), col("stockout_moves"))
      },
      Some("""WITH mv AS (
             |  SELECT l_suppkey,
             |    CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
             |              ELSE -l_quantity END AS BIGINT) AS delta,
             |    l_shipdate, l_orderkey, l_linenumber
             |  FROM lineitem),
             |pre AS (
             |  SELECT l_suppkey, delta, l_shipdate, l_orderkey,
             |    l_linenumber,
             |    CAST(sum(delta) OVER (PARTITION BY l_suppkey
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber, delta
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS prefix
             |  FROM mv),
             |run AS (
             |  SELECT l_suppkey, delta, prefix,
             |    min(prefix) OVER (PARTITION BY l_suppkey
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber, delta
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS runmin
             |  FROM pre),
             |st AS (
             |  SELECT *, prefix - least(0, runmin) AS stock FROM run)
             |SELECT l_suppkey,
             |  CAST(count(*) AS BIGINT) AS n_moves,
             |  CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
             |    AS BIGINT) AS received,
             |  CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
             |    AS BIGINT) AS demanded,
             |  CAST(max(stock) AS BIGINT) AS peak_stock,
             |  CAST(sum(delta) - least(0, min(prefix)) AS BIGINT)
             |    AS final_stock,
             |  CAST(-least(0, min(prefix)) AS BIGINT) AS lost_units,
             |  CAST(sum(CASE WHEN delta < 0 AND stock = 0 THEN 1 ELSE 0
             |    END) AS BIGINT) AS stockout_moves
             |FROM st GROUP BY 1""".stripMargin),
      "floor-clamped inventory balance via the closed form " +
        "prefix − min(0, runmin): two stacked windows on ONE " +
        "supplier-keyed exchange replace a per-key sequential fold — " +
        "lost demand, peak/final stock, stockouts all integer-exact"),

    // Drill-across (Kimball): combine TWO fact tables at a conformed
    // grain — orders revenue and event activity meet at the customer
    // key, then roll up by segment splitting engaged (has events)
    // from silent customers. The load-bearing rule: each fact
    // aggregates to the conformed grain FIRST and the facts meet in a
    // full-outer join of the two O(customers) rollups — joining fact
    // rows directly would fan out revenue by event count and corrupt
    // every sum (the classic drill-across bug). Exact cents + counts;
    // segment averages are exact-integer ratios rounded 4 dp.
    Q("join_drill_across",
      (s, d) => {
        val rev = load(s, d, "orders").groupBy(col("o_custkey").as("ck"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"), count(lit(1)).as("n_orders"))
        val act = load(s, d, "events")
          .groupBy(col("user_id").as("ck"))
          .agg(count(lit(1)).as("n_events"))
        val conformed = rev.join(act, Seq("ck"), "full_outer")
        load(s, d, "customer")
          .join(conformed, col("c_custkey") === col("ck"), "left")
          .groupBy(col("c_mktsegment"),
            coalesce(col("n_events"), lit(0L)).>(0).as("engaged"))
          .agg(count(lit(1)).as("n_customers"),
            sum(coalesce(col("n_orders"), lit(0L))).as("orders"),
            round(sum(coalesce(col("cents"), lit(0L)))
              .cast("double") / (count(lit(1)) * 100.0), 4)
              .as("avg_revenue"),
            sum(coalesce(col("n_events"), lit(0L))).as("events"))
      },
      Some("""WITH rev AS (SELECT o_custkey AS ck,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents,
             |    count(*) AS n_orders
             |  FROM orders GROUP BY 1),
             |act AS (SELECT user_id AS ck, count(*) AS n_events
             |        FROM events GROUP BY 1),
             |conformed AS (SELECT coalesce(rev.ck, act.ck) AS ck,
             |    cents, n_orders, n_events
             |  FROM rev FULL OUTER JOIN act ON rev.ck = act.ck)
             |SELECT c_mktsegment, coalesce(n_events, 0) > 0 AS engaged,
             |  count(*) AS n_customers,
             |  CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS orders,
             |  round(CAST(sum(coalesce(cents, 0)) AS DOUBLE)
             |    / (count(*) * 100.0), 4) AS avg_revenue,
             |  CAST(sum(coalesce(n_events, 0)) AS BIGINT) AS events
             |FROM customer LEFT JOIN conformed ON c_custkey = ck
             |GROUP BY 1, 2""".stripMargin),
      "two-fact drill-across at the conformed customer grain: each " +
        "fact rolls up BEFORE the facts meet (no fan-out revenue " +
        "corruption), segment × engagement rollup exact"),

    // URL parsing + per-domain rollup: the first thing a web-crawl
    // pipeline does with every record — split scheme/host/path/query,
    // then aggregate by REGISTRABLE DOMAIN (crawl budgets, robots
    // caches, per-site quality priors all key on it). URLs are
    // derived deterministically from the documents table (no URL
    // column in the fixture); parsing is pure RE2-safe regex identical
    // in both engines — no lookarounds, no engine URL builtins (DuckDB
    // has none, so builtins couldn't oracle anyway). Map-only parse +
    // one domain-keyed rollup.
    Q("scalar_url_parse",
      (s, d) => {
        val docs = load(s, d, "documents").select(col("doc_id"),
          concat(lit("https://www."), col("source"), lit(".example.com"),
            lit("/"), col("lang"), lit("/doc-"), col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("?ref=feed&page=2"))
              .otherwise(lit(""))).as("url"))
        val host = regexp_extract(col("url"), "^https?://([^/]+)", 1)
        docs.select(col("doc_id"), col("url"), host.as("host"),
            regexp_extract(col("url"), "^https?://[^/]+(/[^?]*)", 1)
              .as("path"),
            regexp_extract(col("url"), "\\?(.*)$", 1).as("query"),
            regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_urls"),
            sum(when(col("query") =!= "", 1L).otherwise(0L))
              .as("n_with_query"),
            countDistinct(col("path")).as("n_paths"))
      },
      Some("""WITH docs AS (SELECT doc_id,
             |    'https://www.' || source || '.example.com' || '/' ||
             |    lang || '/doc-' || doc_id ||
             |    CASE WHEN doc_id % 3 = 0 THEN '?ref=feed&page=2'
             |         ELSE '' END AS url
             |  FROM documents),
             |parsed AS (SELECT doc_id, url,
             |    regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             |    regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1)
             |      AS path,
             |    regexp_extract(url, '\?(.*)$', 1) AS query,
             |    regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1),
             |      '([^.]+\.[^.]+)$', 1) AS domain
             |  FROM docs)
             |SELECT domain, count(*) AS n_urls,
             |  CAST(sum(CASE WHEN query <> '' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_with_query,
             |  count(DISTINCT path) AS n_paths
             |FROM parsed GROUP BY 1""".stripMargin),
      "scheme/host/path/query/registrable-domain extraction with " +
        "RE2-safe regex (identical both engines) + per-domain crawl " +
        "rollup"),

    // URL canonicalization dedup — the prerequisite every URL-keyed
    // dedup/frontier needs: the same resource arrives as HTTP vs
    // HTTPS, mixed-case host, trailing slash, and tracking params;
    // byte-equality sees four URLs, canonical form sees one. Rules
    // (each a pure regex/lower step, identical both engines): force
    // https, lowercase the HOST only, strip utm_* params then a
    // dangling '?', strip one trailing slash. Variants are PLANTED
    // deterministically (doc_id mod 4 picks the corruption), so the
    // canonical groups are known: every group must collapse to
    // exactly the plant multiplicity — value-checked, non-vacuous.
    Q("dedup_url_canonical",
      (s, d) => {
        // stem keys on doc_id mod 20 (≥2 docs per group at EVERY SF —
        // a source/lang-keyed stem only collided past 5k docs and the
        // query was vacuous below sf0.1); the corruption branch keys
        // on doc_id div 20 so each group mixes different corruptions
        val base = load(s, d, "documents").select(col("doc_id"),
          concat(lit("www.site"), (col("doc_id") % 20),
            lit(".example.com/page")).as("stem"))
        val branch = expr("(doc_id div 20) % 4")
        val raw = base.select(col("doc_id"),
          when(branch === 0,
            concat(lit("http://"), col("stem")))
          .when(branch === 1,
            concat(lit("https://WWW."), regexp_replace(col("stem"),
              "^www\\.", ""), lit("/")))
          .when(branch === 2,
            concat(lit("https://"), col("stem"),
              lit("?utm_source=x&utm_campaign=y")))
          .otherwise(concat(lit("https://"), col("stem"))).as("url"))
        val host = regexp_extract(col("url"), "^https?://([^/]+)", 1)
        val rest = regexp_extract(col("url"), "^https?://[^/]+(.*)$", 1)
        val canon = regexp_replace(regexp_replace(regexp_replace(
          concat(lit("https://"), lower(host), rest),
          "[?&]utm_[^&]*", ""), "\\?$", ""), "/$", "")
        raw.select(col("doc_id"), canon.as("canonical"))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_variants"),
            min(col("doc_id")).as("keeper"))
          .filter(col("n_variants") >= 2)
      },
      Some("""WITH base AS (SELECT doc_id,
             |    'www.site' || (doc_id % 20) || '.example.com/page'
             |      AS stem
             |  FROM documents),
             |raw AS (SELECT doc_id,
             |    CASE WHEN (doc_id // 20) % 4 = 0 THEN 'http://' || stem
             |         WHEN (doc_id // 20) % 4 = 1 THEN 'https://WWW.' ||
             |           regexp_replace(stem, '^www\.', '') || '/'
             |         WHEN (doc_id // 20) % 4 = 2 THEN 'https://' || stem
             |           || '?utm_source=x&utm_campaign=y'
             |         ELSE 'https://' || stem END AS url
             |  FROM base),
             |canon AS (SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(
             |      'https://' ||
             |      lower(regexp_extract(url, '^https?://([^/]+)', 1)) ||
             |      regexp_extract(url, '^https?://[^/]+(.*)$', 1),
             |      '[?&]utm_[^&]*', '', 'g'), '\?$', ''), '/$', '')
             |      AS canonical
             |  FROM raw)
             |SELECT canonical, count(*) AS n_variants,
             |       min(doc_id) AS keeper
             |FROM canon GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
      "URL canonicalization (scheme/case/tracking/slash rules as " +
        "identical regex steps) collapsing planted variants — " +
        "canonical groups value-checked"),

    // The three Pythagorean means per group — each is THE right mean
    // for a different question (arithmetic: totals; geometric: growth
    // rates and multiplicative effects, robust to right-skew;
    // harmonic: rates like price-per-unit where the naive mean
    // overweights big denominators; AM ≥ GM ≥ HM always). Arithmetic
    // rides exact cents; geometric = exp(mean(ln x)) and harmonic =
    // n / Σ(1/x) are order-unstable double sums → rounded 4 dp
    // (catalog rule). One combine-enabled rollup.
    Q("agg_pythagorean_means",
      (s, d) => {
        val o = load(s, d, "orders").select(col("o_orderpriority").as("grp"),
          col("o_totalprice").as("x"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        o.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("cents")).cast("double") /
              (count(lit(1)) * 100.0), 4).as("mean_arith"),
            round(exp(avg(log(col("x")))), 4).as("mean_geo"),
            round(count(lit(1)) / sum(lit(1.0) / col("x")), 4)
              .as("mean_harm"))
      },
      Some("""SELECT o_orderpriority AS grp, count(*) AS n,
             |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |    AS DOUBLE) / (count(*) * 100.0), 4) AS mean_arith,
             |  round(exp(avg(ln(o_totalprice))), 4) AS mean_geo,
             |  round(count(*) / sum(1.0 / o_totalprice), 4) AS mean_harm
             |FROM orders GROUP BY 1""".stripMargin),
      "arithmetic / geometric / harmonic means per group — exact " +
        "cents, log-mean and reciprocal-sum forms, one rollup"),

    // Exact WEIGHTED median: the unit-price level at which half the
    // shipped QUANTITY sits below — percentile() weights every row
    // equally, which answers a different question when rows carry
    // different volumes (one 50-unit line ≠ fifty 1-unit lines). Per
    // return flag: per-price quantity rollup (map-side combined), one
    // cumulative window over the O(distinct prices) aggregate, pick
    // the first price whose cumulative weight reaches half the total
    // (lower weighted median — pure integer compares, no
    // interpolation, engine-exact). The fact table never sorts.
    Q("agg_weighted_median",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = load(s, d, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          col("l_quantity").cast("long").as("w"))
        val pw = li.groupBy(col("l_returnflag"), col("price_c"))
          .agg(sum(col("w")).as("wsum"))
        val cw = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("price_c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = pw.groupBy(col("l_returnflag"))
          .agg(sum(col("wsum")).as("wtot"))
        pw.withColumn("cum", sum(col("wsum")).over(cw))
          .join(broadcast(tot), "l_returnflag")
          .filter(col("cum") * 2 >= col("wtot"))
          .groupBy(col("l_returnflag"), col("wtot"))
          .agg(min(col("price_c")).as("wmedian_cents"))
          .select(col("l_returnflag"), col("wtot").as("total_qty"),
            round(col("wmedian_cents") / 100.0, 2).as("wmedian_price"))
      },
      Some("""WITH li AS (SELECT l_returnflag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             |    CAST(l_quantity AS BIGINT) AS w
             |  FROM lineitem),
             |pw AS (SELECT l_returnflag, price_c, CAST(sum(w) AS BIGINT)
             |         AS wsum
             |       FROM li GROUP BY 1, 2),
             |tot AS (SELECT l_returnflag, CAST(sum(wsum) AS BIGINT) AS wtot
             |        FROM pw GROUP BY 1),
             |cum AS (SELECT l_returnflag, price_c, sum(wsum) OVER (
             |          PARTITION BY l_returnflag ORDER BY price_c
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS cum
             |        FROM pw)
             |SELECT cum.l_returnflag, wtot AS total_qty,
             |  round(min(price_c) / 100.0, 2) AS wmedian_price
             |FROM cum JOIN tot USING (l_returnflag)
             |WHERE cum * 2 >= wtot
             |GROUP BY 1, 2""".stripMargin),
      "lower weighted median by shipped quantity: cumulative window " +
        "over the per-price rollup, integer compares only — the fact " +
        "table never sorts"),

    // Semi-additive rollup: BALANCE-like measures sum across entities
    // but take LAST over time — summing a user's readings across days
    // double-counts, summing the day's last reading across users is
    // the number the dashboard wants (the classic account-balance
    // fact-table trap). Per (user, day): the LAST event value by
    // (timestamp, event_id) — max_by with a deterministic tie-break,
    // one combine-enabled aggregation, no window sort of the stream;
    // then the additive dimension (users) sums per day. Cents-exact
    // via per-row round→long before the cross-user sum.
    Q("agg_semi_additive",
      (s, d) => {
        val ev = load(s, d, "events").select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        val last = ev.groupBy(col("user_id"), col("day"))
          .agg(max_by(col("cents"),
            struct(col("us"), col("event_id"))).as("last_cents"))
        last.groupBy(col("day"))
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("last_cents")).cast("double") / 100.0, 2)
              .as("total_last_value"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |    epoch_us(ts) // 86400000000 AS day,
             |    epoch_us(ts) AS us, event_id,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |last AS (SELECT user_id, day,
             |    (list_sort(list({'us': us, 'eid': event_id,
             |                     'c': cents}))[-1]).c AS last_cents
             |  FROM ev GROUP BY 1, 2)
             |SELECT day, count(*) AS n_users,
             |  round(CAST(sum(last_cents) AS DOUBLE) / 100.0, 2)
             |    AS total_last_value
             |FROM last GROUP BY 1""".stripMargin),
      "semi-additive balance rollup: LAST over time (max_by with a " +
        "deterministic tie-break) then SUM across users — exact " +
        "cents, no stream-wide window sort"),

    // Referential-integrity audit over every FK edge of the star
    // schema — the load-bearing data-quality check before any join is
    // trusted (an orphaned FK silently drops rows from inner joins
    // and inflates null groups in outer ones). One row per
    // relationship with child cardinality and orphan count; each edge
    // is a distinct-keys projection anti-joined against its parent's
    // key set (broadcastable — parents' KEYS are small even when
    // parents aren't), unioned into one report. All exact counts.
    Q("quality_referential_integrity",
      (s, d) => {
        def edge(name: String, child: DataFrame, key: String,
                 parent: DataFrame, pkey: String) = {
          val keys = child.select(col(key).as("k")).filter(col("k").isNotNull)
          val orphans = keys.join(
            broadcast(parent.select(col(pkey).as("k")).distinct()),
            Seq("k"), "left_anti")
          keys.agg(count(lit(1)).as("n_children"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            .select(lit(name).as("fk_edge"), col("n_children"),
              col("n_orphans"))
        }
        val o = load(s, d, "orders"); val li = load(s, d, "lineitem")
        val c = load(s, d, "customer"); val n = load(s, d, "nation")
        Seq(
          edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
          edge("lineitem->part", li, "l_partkey",
            load(s, d, "part"), "p_partkey"),
          edge("lineitem->supplier", li, "l_suppkey",
            load(s, d, "supplier"), "s_suppkey"),
          edge("orders->customer", o, "o_custkey", c, "c_custkey"),
          edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
          edge("nation->region", n, "n_regionkey",
            load(s, d, "region"), "r_regionkey"))
          .reduce(_ unionByName _)
      },
      Some("""SELECT 'lineitem->orders' AS fk_edge,
             |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
             |    AS n_children,
             |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
             |     AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |    AS n_orphans
             |UNION ALL
             |SELECT 'lineitem->part',
             |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
             |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
             |     AND l_partkey NOT IN (SELECT p_partkey FROM part))
             |UNION ALL
             |SELECT 'lineitem->supplier',
             |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
             |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
             |     AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
             |UNION ALL
             |SELECT 'orders->customer',
             |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
             |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
             |     AND o_custkey NOT IN (SELECT c_custkey FROM customer))
             |UNION ALL
             |SELECT 'customer->nation',
             |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL),
             |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
             |     AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
             |UNION ALL
             |SELECT 'nation->region',
             |  (SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL),
             |  (SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL
             |     AND n_regionkey NOT IN (SELECT r_regionkey FROM region))""".stripMargin),
      "orphaned-FK audit across all six star-schema edges: distinct " +
        "parent-key anti-joins, one report row per edge, exact counts"),

    // Ratio-of-sums vs average-of-ratios — the rate-aggregation trap:
    // "average purchase rate" can mean Σpurchases/Σevents (every
    // EVENT weighted equally) or avg(user rate) (every USER weighted
    // equally), and heavy users drag the two apart; dashboards that
    // silently switch between them "move" metrics without any data
    // changing. Both forms per event-type cohort from ONE user-grain
    // rollup: ratio-of-sums is exact-integer division; the per-user
    // ratios are identical IEEE divisions whose mean is an
    // order-unstable sum → rounded 4 dp; the gap column makes the
    // divergence visible.
    Q("agg_rate_aggregation_bias",
      (s, d) => {
        val u = load(s, d, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ev"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_pur"))
        u.agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("tot_ev"),
            sum(col("n_pur")).as("tot_pur"),
            round(avg(col("n_pur").cast("double") / col("n_ev")), 4)
              .as("avg_of_ratios"))
          .select(col("n_users"),
            round(col("tot_pur").cast("double") / col("tot_ev"), 4)
              .as("ratio_of_sums"),
            col("avg_of_ratios"),
            round(col("avg_of_ratios") -
              round(col("tot_pur").cast("double") / col("tot_ev"), 4), 4)
              .as("gap"))
      },
      Some("""WITH u AS (SELECT user_id, count(*) AS n_ev,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS n_pur
             |  FROM events GROUP BY 1),
             |agg AS (SELECT count(*) AS n_users,
             |    CAST(sum(n_ev) AS BIGINT) AS tot_ev,
             |    CAST(sum(n_pur) AS BIGINT) AS tot_pur,
             |    round(avg(CAST(n_pur AS DOUBLE) / n_ev), 4)
             |      AS avg_of_ratios
             |  FROM u)
             |SELECT n_users,
             |  round(CAST(tot_pur AS DOUBLE) / tot_ev, 4) AS ratio_of_sums,
             |  avg_of_ratios,
             |  round(avg_of_ratios -
             |    round(CAST(tot_pur AS DOUBLE) / tot_ev, 4), 4) AS gap
             |FROM agg""".stripMargin),
      "event-weighted vs user-weighted purchase rate from one user " +
        "rollup — the silent-metric-switch audit, gap surfaced"),

    // Pearson correlation matrix over the fact table's numeric columns
    // in ONE aggregation pass: 15 exact integer moments (4 sums, 4
    // sums-of-squares, 6 cross products, 1 count) reduce the whole
    // scan to a single row, and every pairwise r is then scalar
    // arithmetic on that row — the profiling shape that never rescans
    // per pair (the naive corr-per-pair formulation reads the fact
    // table C(k,2) times). Moments accumulate as decimal(38,0) —
    // Σ(price_cents²) ≈ 6e19 at sf0.1 overflows BIGINT but integer
    // decimal sums stay exact in any order; the exact moments convert
    // to double once (correct rounding in both engines) and the final
    // ratios round 4 dp. Output unpivots to (col_a, col_b) rows.
    Q("profile_correlation_matrix",
      (s, d) => {
        val vars = Seq(
          "qty" -> round(col("l_quantity"), 0),
          "price" -> round(col("l_extendedprice") * 100, 0),
          "disc" -> round(col("l_discount") * 100, 0),
          "tax" -> round(col("l_tax") * 100, 0))
        def i38(c: Column) = c.cast("decimal(18,0)")
        val pairs = for {
          i <- vars.indices; j <- vars.indices if i < j
        } yield (vars(i), vars(j))
        val moments =
          vars.map { case (n, c) => sum(i38(c)).as(s"s_$n") } ++
          vars.map { case (n, c) => sum(i38(c) * i38(c)).as(s"ss_$n") } ++
          pairs.map { case ((a, ca), (b, cb)) =>
            sum(i38(ca) * i38(cb)).as(s"sx_${a}_$b") }
        val m = load(s, d, "lineitem")
          .agg(count(lit(1)).as("n"), moments: _*)
        def dbl(n: String) = col(n).cast("double")
        def corrOf(a: String, b: String) =
          round((dbl("n") * dbl(s"sx_${a}_$b") - dbl(s"s_$a") * dbl(s"s_$b")) /
            sqrt((dbl("n") * dbl(s"ss_$a") - dbl(s"s_$a") * dbl(s"s_$a")) *
                 (dbl("n") * dbl(s"ss_$b") - dbl(s"s_$b") * dbl(s"s_$b"))), 4)
        val withR = m.select(col("n").as("n_rows") +:
          pairs.map { case ((a, _), (b, _)) =>
            corrOf(a, b).as(s"r_${a}_$b") }: _*)
        val stackExpr = s"stack(${pairs.size}, " + pairs.map {
          case ((a, _), (b, _)) => s"'$a', '$b', r_${a}_$b"
        }.mkString(", ") + ") AS (col_a, col_b, corr_r)"
        withR.select(expr(stackExpr), col("n_rows"))
          .select("col_a", "col_b", "corr_r", "n_rows")
      },
      Some {
        val defs = Seq("qty" -> "round(l_quantity)",
          "price" -> "round(l_extendedprice*100)",
          "disc" -> "round(l_discount*100)",
          "tax" -> "round(l_tax*100)")
        val pairs = for {
          i <- defs.indices; j <- defs.indices if i < j
        } yield (defs(i), defs(j))
        val moments =
          defs.map { case (n, e) => s"sum(CAST($e AS HUGEINT)) AS s_$n" } ++
          defs.map { case (n, e) =>
            s"sum(CAST($e AS HUGEINT) * CAST($e AS HUGEINT)) AS ss_$n" } ++
          pairs.map { case ((a, ea), (b, eb)) =>
            s"sum(CAST($ea AS HUGEINT) * CAST($eb AS HUGEINT)) AS sx_${a}_$b" }
        def dbl(n: String) = s"CAST($n AS DOUBLE)"
        val rows = pairs.map { case ((a, _), (b, _)) =>
          val r = s"round((${dbl("n")} * ${dbl(s"sx_${a}_$b")} - " +
            s"${dbl(s"s_$a")} * ${dbl(s"s_$b")}) / " +
            s"sqrt((${dbl("n")} * ${dbl(s"ss_$a")} - " +
            s"${dbl(s"s_$a")} * ${dbl(s"s_$a")}) * " +
            s"(${dbl("n")} * ${dbl(s"ss_$b")} - " +
            s"${dbl(s"s_$b")} * ${dbl(s"s_$b")})), 4)"
          s"SELECT '$a' AS col_a, '$b' AS col_b, $r AS corr_r, " +
            s"CAST(n AS BIGINT) AS n_rows FROM m"
        }
        s"""WITH m AS (SELECT count(*) AS n, ${moments.mkString(", ")}
           |  FROM lineitem)
           |${rows.mkString("\nUNION ALL\n")}""".stripMargin
      },
      "full correlation matrix from one scan: 15 exact decimal moments " +
        "→ 1 row → scalar pairwise ratios, unpivoted"),

    // Price-volume-mix bridge: decompose each brand's year-over-year
    // revenue delta into a VOLUME effect (quantity change at last
    // year's average unit price) and a PRICE effect (unit-price change
    // at this year's quantity) — the Laspeyres-volume / Paasche-price
    // convention, under which the two effects sum to ΔR exactly with
    // no residual cross term: q₂p₂ − q₁p₁ = (q₂−q₁)p₁ + q₂(p₂−p₁).
    // The revenue-bridge ("waterfall") readout every BI layer builds
    // over a fact table. Scale shape: ONE lineitem pass with the
    // two-year predicate pushed to the parquet scan, a broadcast part
    // join for the brand attribute, and a single brand-keyed hash
    // aggregate of conditional integer sums (map-side combined); the
    // decomposition arithmetic runs on O(brands) rows. Determinism:
    // quantities and cents are exact BIGINTs (order-independent sums);
    // each effect is a short chain of single IEEE ops on those exact
    // integers — identical expression trees in both engines, so the
    // doubles hash-match UNROUNDED (established per-row rule).
    Q("agg_pvm_bridge",
      (s, d) => {
        val li = load(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("l_partkey"), year(col("l_shipdate")).as("y"),
            col("l_quantity").cast("long").as("q"),
            round(col("l_extendedprice") * 100).cast("long").as("c"))
        val brands = load(s, d, "part")
          .select(col("p_partkey"), col("p_brand").as("brand"))
        val g = li.join(broadcast(brands), col("l_partkey") === col("p_partkey"))
          .groupBy(col("brand"))
          .agg(sum(when(col("y") === 2000, col("q")).otherwise(0L)).as("qty_prev"),
            sum(when(col("y") === 2001, col("q")).otherwise(0L)).as("qty_curr"),
            sum(when(col("y") === 2000, col("c")).otherwise(0L)).as("rev_prev_c"),
            sum(when(col("y") === 2001, col("c")).otherwise(0L)).as("rev_curr_c"))
          .filter(col("qty_prev") > 0 && col("qty_curr") > 0)
        def dbl(n: String) = col(n).cast("double")
        g.select(col("brand"), col("qty_prev"), col("qty_curr"),
          col("rev_prev_c"), col("rev_curr_c"),
          (col("rev_curr_c") - col("rev_prev_c")).as("delta_rev_c"),
          ((dbl("qty_curr") - dbl("qty_prev")) *
            (dbl("rev_prev_c") / 100.0 / dbl("qty_prev"))).as("volume_effect"),
          ((dbl("rev_curr_c") / 100.0 / dbl("qty_curr") -
            dbl("rev_prev_c") / 100.0 / dbl("qty_prev")) *
            dbl("qty_curr")).as("price_effect"))
      },
      Some("""WITH li AS (
             |  SELECT p_brand AS brand, year(l_shipdate) AS y,
             |    CAST(l_quantity AS BIGINT) AS q,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'),
             |g AS (
             |  SELECT brand,
             |    CAST(sum(CASE WHEN y = 2000 THEN q ELSE 0 END) AS BIGINT)
             |      AS qty_prev,
             |    CAST(sum(CASE WHEN y = 2001 THEN q ELSE 0 END) AS BIGINT)
             |      AS qty_curr,
             |    CAST(sum(CASE WHEN y = 2000 THEN c ELSE 0 END) AS BIGINT)
             |      AS rev_prev_c,
             |    CAST(sum(CASE WHEN y = 2001 THEN c ELSE 0 END) AS BIGINT)
             |      AS rev_curr_c
             |  FROM li GROUP BY brand)
             |SELECT brand, qty_prev, qty_curr, rev_prev_c, rev_curr_c,
             |  rev_curr_c - rev_prev_c AS delta_rev_c,
             |  (CAST(qty_curr AS DOUBLE) - CAST(qty_prev AS DOUBLE)) *
             |    (CAST(rev_prev_c AS DOUBLE) / 100.0 / CAST(qty_prev AS DOUBLE))
             |    AS volume_effect,
             |  (CAST(rev_curr_c AS DOUBLE) / 100.0 / CAST(qty_curr AS DOUBLE) -
             |   CAST(rev_prev_c AS DOUBLE) / 100.0 / CAST(qty_prev AS DOUBLE)) *
             |    CAST(qty_curr AS DOUBLE) AS price_effect
             |FROM g WHERE qty_prev > 0 AND qty_curr > 0""".stripMargin),
      "YoY revenue bridge per brand: exact conditional integer sums " +
        "from one pushed-filter fact pass, Laspeyres/Paasche split " +
        "with zero residual"),

    // Cohort LTV curve — the revenue companion of events_cohort_
    // retention: cumulative purchase revenue per cohort member as the
    // cohort ages, the payback/LTV readout growth teams plot against
    // acquisition cost. Same weekly grain and first-activity cohort
    // rule as the retention matrix so the two queries share a mental
    // model. Scale shape: the purchase stream rolls up to (user, week)
    // cents FIRST (one user-keyed exchange; the per-user cohort min is
    // a second aggregate over the same shuffled grain), the curve then
    // lives on O(cohorts × weeks) rows — the cumulative window and the
    // broadcast cohort-size join never touch event grain. The (user,
    // week) rollup is cached once and feeds both the cohort min and
    // the curve (one events scan, plan-audited). Exact
    // integer cents throughout; the only division is the final
    // per-user LTV (single IEEE op chain on exact ints, unrounded).
    Q("events_cohort_ltv",
      (s, d) => {
        val pu = load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            expr("datediff(to_date(ts), date '2024-01-01') div 7")
              .cast("long").as("wk"),
            round(col("value") * 100).cast("long").as("cents"))
        val uw = persistOnce(pu.groupBy(col("user_id"), col("wk"))
          .agg(sum(col("cents")).as("c")))
        val coh = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
        val sizes = coh.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
        val cell = uw.join(coh, "user_id")
          .groupBy(col("cw").as("cohort_week"),
            (col("wk") - col("cw")).as("week_offset"))
          .agg(sum(col("c")).as("rev_c"))
        val w = Window.partitionBy(col("cohort_week"))
          .orderBy(col("week_offset"))
        cell.withColumn("cum_rev_c", sum(col("rev_c")).over(w))
          .join(broadcast(sizes), col("cohort_week") === col("cw"))
          .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
            col("rev_c"), col("cum_rev_c"),
            (col("cum_rev_c").cast("double") / 100.0 /
              col("cohort_size").cast("double")).as("ltv_per_user"))
      },
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
             |         // 7 AS BIGINT) AS wk,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |uw AS (SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS c
             |  FROM pu GROUP BY 1, 2),
             |coh AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1),
             |sizes AS (SELECT cw, count(*) AS cohort_size FROM coh GROUP BY 1),
             |cell AS (
             |  SELECT cw AS cohort_week, wk - cw AS week_offset,
             |    CAST(sum(c) AS BIGINT) AS rev_c
             |  FROM uw JOIN coh USING (user_id) GROUP BY 1, 2),
             |cum AS (
             |  SELECT *, CAST(sum(rev_c) OVER (PARTITION BY cohort_week
             |    ORDER BY week_offset) AS BIGINT) AS cum_rev_c
             |  FROM cell)
             |SELECT cohort_week, week_offset, cohort_size, rev_c, cum_rev_c,
             |  CAST(cum_rev_c AS DOUBLE) / 100.0 / CAST(cohort_size AS DOUBLE)
             |    AS ltv_per_user
             |FROM cum JOIN sizes ON cohort_week = cw""".stripMargin),
      "cohort LTV curve: exact-cents cumulative revenue per cohort " +
        "member by age week — event grain collapses before any window"),

    // OHLC bars: the tick-to-candlestick compaction every time-series
    // store runs — per (series, day) open/high/low/close/volume. Open
    // and close need a UNIQUE chronological order (a same-microsecond
    // tie must not flip the bar between engines), but a (ts, id)
    // STRUCT ordering key demotes the whole aggregate to SortAggregate
    // (struct agg buffers aren't UnsafeRow-mutable — measured, not
    // guessed). So the tie-broken order PACKS into one 63-bit long:
    // micros-within-day (<2³⁷; the day is already in the group key)
    // ×2²⁶ + event_id mod 2²⁶ — unique while ids stay under 67M per
    // same-microsecond cohort, and min_by/max_by on a LONG key keeps
    // the whole bar ONE map-side-combined HashAggregate (plan-
    // audited): no per-group sort, no window over ticks, state bounded
    // by series × days regardless of tick volume. Exact integer cents;
    // high/low/volume are order-independent integer aggregates.
    Q("events_ohlc_bars",
      (s, d) => {
        val ev = load(s, d, "events").select(col("event_type"),
          to_date(col("ts")).as("day"),
          ((unix_micros(col("ts")) % 86400000000L) * 67108864L +
            pmod(col("event_id"), lit(67108864L))).as("ord"),
          round(col("value") * 100).cast("long").as("c"))
        ev.groupBy(col("event_type"), col("day"))
          .agg(min_by(col("c"), col("ord")).as("open_c"),
            max(col("c")).as("high_c"), min(col("c")).as("low_c"),
            max_by(col("c"), col("ord")).as("close_c"),
            count(lit(1)).as("n_ticks"), sum(col("c")).as("vol_c"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    (epoch_us(ts) % 86400000000) * 67108864
             |      + event_id % 67108864 AS ord,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events)
             |SELECT event_type, day,
             |  arg_min(c, ord) AS open_c,
             |  CAST(max(c) AS BIGINT) AS high_c,
             |  CAST(min(c) AS BIGINT) AS low_c,
             |  arg_max(c, ord) AS close_c,
             |  count(*) AS n_ticks, CAST(sum(c) AS BIGINT) AS vol_c
             |FROM ev GROUP BY 1, 2""".stripMargin),
      "tick→OHLC candlestick bars in one hash aggregate: packed-long " +
        "tie-broken open/close, no per-group sort"),

    // UCB1 bandit readout — the exploration/exploitation score an
    // adaptive experimenter assigns each arm from logged history:
    // ucb = mean reward + √(2·ln N / n). The arm stats are one
    // map-side-combined aggregate (exact integer cents and counts);
    // the global pull count N rides along as a broadcast 1-row cross
    // join, and the score arithmetic is a single-op IEEE chain on
    // exact integers — unrounded cross-engine, the per-row rule. The
    // deterministic batch complement of online bandit serving: at
    // 100 TB the same rollup feeds the policy store, and the shuffle
    // carries O(arms) rows.
    Q("events_ucb_arms",
      (s, d) => {
        val ev = load(s, d, "events").select(col("event_type").as("arm"),
          round(col("value") * 100).cast("long").as("c"))
        val arms = ev.groupBy(col("arm"))
          .agg(count(lit(1)).as("n_pulls"), sum(col("c")).as("rew_c"))
        val total = arms.agg(sum(col("n_pulls")).as("n_total"))
        arms.crossJoin(broadcast(total))
          .select(col("arm"), col("n_pulls"), col("n_total"),
            (col("rew_c").cast("double") / 100.0 /
              col("n_pulls").cast("double")).as("mean_reward"),
            sqrt(lit(2.0) * log(col("n_total").cast("double")) /
              col("n_pulls").cast("double")).as("bonus"),
            (col("rew_c").cast("double") / 100.0 /
              col("n_pulls").cast("double") +
              sqrt(lit(2.0) * log(col("n_total").cast("double")) /
                col("n_pulls").cast("double"))).as("ucb"))
      },
      Some("""WITH ev AS (SELECT event_type AS arm,
             |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |arms AS (SELECT arm, count(*) AS n_pulls,
             |    CAST(sum(c) AS BIGINT) AS rew_c
             |  FROM ev GROUP BY 1),
             |total AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS n_total
             |  FROM arms)
             |SELECT arm, n_pulls, n_total,
             |  CAST(rew_c AS DOUBLE) / 100.0 / CAST(n_pulls AS DOUBLE)
             |    AS mean_reward,
             |  sqrt(2.0 * ln(CAST(n_total AS DOUBLE))
             |    / CAST(n_pulls AS DOUBLE)) AS bonus,
             |  CAST(rew_c AS DOUBLE) / 100.0 / CAST(n_pulls AS DOUBLE)
             |    + sqrt(2.0 * ln(CAST(n_total AS DOUBLE))
             |        / CAST(n_pulls AS DOUBLE)) AS ucb
             |FROM arms, total""".stripMargin),
      "UCB1 arm scores from logged pulls: exact arm moments + " +
        "broadcast global count, single-op IEEE score chain unrounded"),

    // ---- KMV (bottom-k) distinct sketch -------------------------------
    // The DETERMINISTIC member of the distinct-sketch family: the
    // sketch is a pure function of the key set and the md5 fingerprint,
    // so unlike HLL/CMS (property-oracled above) the ESTIMATE itself
    // hash-matches cross-engine — DuckDB replays the bottom-64 pipeline
    // and reproduces (k-1)*2^32/h_k bitwise. The Spark side runs the
    // mergeable typed Aggregator (functions/KmvSketch.scala): O(k)
    // state per group per map partition, partials merge associatively
    // — never a per-group shuffle of the whole key domain. All five
    // groups exceed k=64 distinct keys at every SF, so the estimating
    // branch (not the exact small-set branch) is what's checked.
    Q("sketch_kmv_distinct",
      (s, d) => {
        val k = 64
        val o = load(s, d, "orders")
          .select(col("o_orderpriority"),
            Reconcile.rowFingerprint(col("o_custkey")).as("h"),
            col("o_custkey"))
        o.groupBy(col("o_orderpriority"))
          .agg(graft.functions.KmvSketch.kmv(k)(col("h"), col("o_custkey"))
              .as("sk"),
            countDistinct(col("o_custkey")).as("exact_customers"))
          .select(col("o_orderpriority"), col("exact_customers"),
            size(col("sk")).as("n_sketch"),
            when(size(col("sk")) < k, size(col("sk")).cast("double"))
              .otherwise(lit((k - 1) * 4294967296.0) /
                element_at(col("sk"), k).getField("h"))
              .as("est_customers"))
      },
      Some("""WITH dk AS (
             |  SELECT DISTINCT o_orderpriority, o_custkey,
             |    CAST(CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),
             |      1, 8)) AS UBIGINT) AS BIGINT) AS h
             |  FROM orders),
             |rk AS (
             |  SELECT o_orderpriority, h,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY h, o_custkey) AS r,
             |    count(*) OVER (PARTITION BY o_orderpriority) AS nd
             |  FROM dk)
             |SELECT o_orderpriority, CAST(max(nd) AS BIGINT) AS exact_customers,
             |  CAST(least(max(nd), 64) AS INTEGER) AS n_sketch,
             |  CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
             |       ELSE 63 * 4294967296.0 / max(CASE WHEN r = 64 THEN h END)
             |  END AS est_customers
             |FROM rk GROUP BY 1""".stripMargin),
      "KMV bottom-64 distinct sketch per group: mergeable O(k) typed " +
        "Aggregator, estimate (k-1)*2^32/h_k hash-matched bitwise — the " +
        "deterministic sibling of the HLL rollup"),

    // KMV set algebra (Beyer et al., SIGMOD 2007): union and
    // intersection cardinalities of two audiences from their sketches
    // alone. Union sketch = bottom-k of the concatenated sketches; any
    // union-sketch element belonging to a member set hashes below that
    // member's own threshold, so membership of union-sketch elements in
    // the member SKETCHES is an exact test and (c/k)*est(A∪B)
    // estimates the intersection. k=8 keeps the estimating branch live
    // at sf0.001 (15 distinct users per audience) — accuracy is not
    // the point here, determinism of the whole algebra is; the exact
    // counts sit alongside for calibration. Sketch-only rollups are
    // the 100 TB win: audience overlap across N segments needs N
    // sketches, not N² distinct-count joins.
    Q("sketch_kmv_setops",
      (s, d) => {
        val k = 8
        val kmv = graft.functions.KmvSketch.kmv(k)
        val ev = persistOnce(load(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"),
            Reconcile.rowFingerprint(col("user_id")).as("h"),
            col("user_id")))
        def sket(f: DataFrame): DataFrame =
          f.agg(kmv(col("h"), col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("exact"))
        val a = sket(ev.filter(col("event_type") === "click"))
          .select(col("sk").as("a_sk"), col("exact").as("exact_a"))
        val b = sket(ev.filter(col("event_type") === "purchase"))
          .select(col("sk").as("b_sk"), col("exact").as("exact_b"))
        val u = sket(ev)
          .select(col("sk").as("u_sk"), col("exact").as("exact_union"))
        val inter = ev.groupBy(col("user_id"))
          .agg(countDistinct(col("event_type")).as("nt"))
          .filter(col("nt") === 2)
          .agg(count(lit(1)).as("exact_inter"))
        def est(sk: Column): Column =
          when(size(sk) < k, size(sk).cast("double"))
            .otherwise(lit((k - 1) * 4294967296.0) /
              element_at(sk, k).getField("h"))
        a.crossJoin(b).crossJoin(u).crossJoin(inter)
          .select(col("exact_a"), col("exact_b"), col("exact_union"),
            col("exact_inter"),
            est(col("a_sk")).as("est_a"), est(col("b_sk")).as("est_b"),
            est(col("u_sk")).as("est_union"),
            round(
              size(expr("filter(u_sk, e -> exists(a_sk, x -> x.key = e.key)" +
                " AND exists(b_sk, y -> y.key = e.key))")).cast("double") *
                est(col("u_sk")) / k, 4).as("est_inter"))
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT event_type, user_id,
             |    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS UBIGINT) AS BIGINT) AS h
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |ska AS (SELECT user_id, h, row_number() OVER (ORDER BY h, user_id)
             |    AS r, count(*) OVER () AS nd
             |  FROM ev WHERE event_type = 'click'),
             |skb AS (SELECT user_id, h, row_number() OVER (ORDER BY h, user_id)
             |    AS r, count(*) OVER () AS nd
             |  FROM ev WHERE event_type = 'purchase'),
             |sku AS (SELECT user_id, h, row_number() OVER (ORDER BY h, user_id)
             |    AS r, count(*) OVER () AS nd
             |  FROM (SELECT DISTINCT user_id, h FROM ev)),
             |est AS (
             |  SELECT
             |    (SELECT CAST(max(nd) AS BIGINT) FROM ska) AS exact_a,
             |    (SELECT CAST(max(nd) AS BIGINT) FROM skb) AS exact_b,
             |    (SELECT CAST(max(nd) AS BIGINT) FROM sku) AS exact_union,
             |    (SELECT CAST(count(*) AS BIGINT) FROM (
             |       SELECT user_id FROM ev GROUP BY 1
             |       HAVING count(DISTINCT event_type) = 2)) AS exact_inter,
             |    (SELECT CASE WHEN max(nd) < 8 THEN CAST(max(nd) AS DOUBLE)
             |       ELSE 7 * 4294967296.0 / max(CASE WHEN r = 8 THEN h END) END
             |     FROM ska) AS est_a,
             |    (SELECT CASE WHEN max(nd) < 8 THEN CAST(max(nd) AS DOUBLE)
             |       ELSE 7 * 4294967296.0 / max(CASE WHEN r = 8 THEN h END) END
             |     FROM skb) AS est_b,
             |    (SELECT CASE WHEN max(nd) < 8 THEN CAST(max(nd) AS DOUBLE)
             |       ELSE 7 * 4294967296.0 / max(CASE WHEN r = 8 THEN h END) END
             |     FROM sku) AS est_union,
             |    (SELECT CAST(count(*) AS BIGINT) FROM sku
             |     WHERE r <= 8
             |       AND user_id IN (SELECT user_id FROM ska WHERE r <= 8)
             |       AND user_id IN (SELECT user_id FROM skb WHERE r <= 8))
             |      AS c_inter)
             |SELECT exact_a, exact_b, exact_union, exact_inter,
             |  est_a, est_b, est_union,
             |  round(CAST(c_inter AS DOUBLE) * est_union / 8, 4) AS est_inter
             |FROM est""".stripMargin),
      "KMV set algebra: union sketch from member sketches, theta-style " +
        "intersection via exact membership of union elements — audience " +
        "overlap from O(k) sketches, no pairwise distinct joins"),

    // DDSketch relative-error quantiles (Masson et al., VLDB 2019):
    // the quantile member of the mergeable-sketch family. Bucketing is
    // a PURE PER-ROW function — i = ceil(ln x / ln γ) with
    // γ = (1+α)/(1-α), α = 1% — so the sketch is literally a
    // (group, bucket) COUNT aggregate: map-side combined, mergeable by
    // construction (partials sum), O(buckets·groups) state — ~800
    // buckets span nine decades, vs the full value domain an exact
    // quantile needs. Unlike rank-error sketches (KLL/t-digest) the
    // answer is DETERMINISTIC — a pure function of the multiset — so
    // the whole pipeline value-checks against DuckDB replaying the
    // identical bucket/extract arithmetic (ln/pow are correctly
    // rounded in both engines — the events_ucb_arms precedent). The
    // exact lower order statistics ride alongside on a distinct-cents
    // rollup (integer compares), and the α-guarantee
    // |est − x_q| ≤ α·x_q is emitted as a value-checked column, not a
    // property assertion. Cents stay integers end-to-end; only the
    // final bucket-midpoint estimate is floating (rounded 4 dp).
    Q("sketch_dd_quantiles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val gamma = 101.0 / 99.0 // (1+α)/(1-α) at α = 0.01
        val li = persistOnce(load(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("c")))
        val wAll = Window.partitionBy(col("l_returnflag"))
        val sk = li
          .select(col("l_returnflag"),
            ceil(log(col("c").cast("double")) / log(lit(gamma)))
              .cast("int").as("i"))
          .groupBy(col("l_returnflag"), col("i"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .withColumn("cum", sum(col("cnt")).over(wAll.orderBy(col("i"))))
        def bq(q: Double) =
          min(when(col("cum") >= ceil(lit(q) * col("n")), col("i")))
        val est = sk.groupBy(col("l_returnflag"))
          .agg(max(col("n")).as("n"), bq(0.5).as("i50"), bq(0.9).as("i90"),
            bq(0.99).as("i99"))
        val ex = li.groupBy(col("l_returnflag"), col("c"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .withColumn("cum", sum(col("cnt")).over(wAll.orderBy(col("c"))))
        def xq(q: Double) =
          min(when(col("cum") >= ceil(lit(q) * col("n")), col("c")))
        val exact = ex.groupBy(col("l_returnflag"))
          .agg(xq(0.5).as("x50"), xq(0.9).as("x90"), xq(0.99).as("x99"))
        def estv(i: Column) =
          lit(2.0) * pow(lit(gamma), i.cast("double")) / lit(gamma + 1.0)
        def out(i: Column, x: Column, p: String) = Seq(
          round(estv(i) / 100.0, 4).as(s"p${p}_est"),
          (x.cast("double") / 100.0).as(s"p${p}_exact"),
          (abs(estv(i) - x.cast("double")) <= lit(0.01) * x.cast("double"))
            .as(s"p${p}_ok"))
        est.join(exact, "l_returnflag")
          .select(col("l_returnflag") +: col("n") +:
            (out(col("i50"), col("x50"), "50") ++
              out(col("i90"), col("x90"), "90") ++
              out(col("i99"), col("x99"), "99")): _*)
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |sk AS (
             |  SELECT l_returnflag,
             |    CAST(ceil(ln(CAST(c AS DOUBLE)) / ln(101.0/99.0)) AS INTEGER)
             |      AS i,
             |    count(*) AS cnt
             |  FROM li GROUP BY 1, 2),
             |sc AS (
             |  SELECT l_returnflag, i, cnt,
             |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n,
             |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY i) AS cum
             |  FROM sk),
             |est AS (
             |  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
             |    min(CASE WHEN cum >= ceil(0.5 * n) THEN i END) AS i50,
             |    min(CASE WHEN cum >= ceil(0.9 * n) THEN i END) AS i90,
             |    min(CASE WHEN cum >= ceil(0.99 * n) THEN i END) AS i99
             |  FROM sc GROUP BY 1),
             |ec AS (
             |  SELECT l_returnflag, c, count(*) AS cnt FROM li GROUP BY 1, 2),
             |e2 AS (
             |  SELECT l_returnflag, c,
             |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n,
             |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY c) AS cum
             |  FROM ec),
             |exact AS (
             |  SELECT l_returnflag,
             |    min(CASE WHEN cum >= ceil(0.5 * n) THEN c END) AS x50,
             |    min(CASE WHEN cum >= ceil(0.9 * n) THEN c END) AS x90,
             |    min(CASE WHEN cum >= ceil(0.99 * n) THEN c END) AS x99
             |  FROM e2 GROUP BY 1)
             |SELECT e.l_returnflag, n,
             |  round(2.0 * power(101.0/99.0, CAST(i50 AS DOUBLE))
             |    / (101.0/99.0 + 1.0) / 100.0, 4) AS p50_est,
             |  CAST(x50 AS DOUBLE) / 100.0 AS p50_exact,
             |  abs(2.0 * power(101.0/99.0, CAST(i50 AS DOUBLE))
             |      / (101.0/99.0 + 1.0) - CAST(x50 AS DOUBLE))
             |    <= 0.01 * CAST(x50 AS DOUBLE) AS p50_ok,
             |  round(2.0 * power(101.0/99.0, CAST(i90 AS DOUBLE))
             |    / (101.0/99.0 + 1.0) / 100.0, 4) AS p90_est,
             |  CAST(x90 AS DOUBLE) / 100.0 AS p90_exact,
             |  abs(2.0 * power(101.0/99.0, CAST(i90 AS DOUBLE))
             |      / (101.0/99.0 + 1.0) - CAST(x90 AS DOUBLE))
             |    <= 0.01 * CAST(x90 AS DOUBLE) AS p90_ok,
             |  round(2.0 * power(101.0/99.0, CAST(i99 AS DOUBLE))
             |    / (101.0/99.0 + 1.0) / 100.0, 4) AS p99_est,
             |  CAST(x99 AS DOUBLE) / 100.0 AS p99_exact,
             |  abs(2.0 * power(101.0/99.0, CAST(i99 AS DOUBLE))
             |      / (101.0/99.0 + 1.0) - CAST(x99 AS DOUBLE))
             |    <= 0.01 * CAST(x99 AS DOUBLE) AS p99_ok
             |FROM est e JOIN exact x USING (l_returnflag)""".stripMargin),
      "DDSketch relative-error quantiles: per-row log-γ bucketing makes " +
        "the sketch a plain (group, bucket) count aggregate — mergeable " +
        "by construction, deterministic, α-guarantee value-checked " +
        "against the exact order statistics"),

    // AMS tug-of-war join-size estimation (Alon-Matias-Szegedy, STOC
    // 1996): |R ⋈ S| = Σ_k f_R(k)·f_S(k) estimated from ONE O(seeds)
    // vector per relation — X_j = Σ_rows s_j(key) under ±1 md5 sign
    // functions, E[X_R·X_S] = join size. Each sketch is a single
    // map-side-combined aggregate over its relation; the relations are
    // NEVER joined, co-shuffled, or even read together — the
    // cardinality-estimation primitive a cost-based optimizer needs
    // BEFORE committing to a join strategy at 100 TB (pick
    // broadcast/shuffle/skew handling from 12 longs, not a dry run).
    // Median-of-means over 3 groups × 4 seeds bounds the variance; all
    // arithmetic is integer until the final /4.0 (exact: power of
    // two), so the estimate hash-matches unrounded. The exact join
    // size rides alongside from the distinct-key frequency rollup —
    // candidates ∝ distinct keys, the join itself never materialized.
    Q("sketch_ams_joinsize",
      (s, d) => {
        def signed(df: DataFrame, key: Column, out: String) = df
          .select(key.as("k"))
          .select(col("k"), explode(sequence(lit(1), lit(12))).as("j"))
          .select(col("j"),
            (lit(1) - lit(2) * (conv(substring(md5(concat(
              col("j").cast("string"), lit("|"), col("k").cast("string"))),
              1, 1), 16, 10).cast("int") % 2)).as("s"))
          .groupBy(col("j")).agg(sum(col("s")).as(out))
        val li = persistOnce(load(s, d, "lineitem")
          .select(col("l_partkey"), col("l_returnflag")))
        val r = signed(li, col("l_partkey"), "x")
        val t = signed(li.filter(col("l_returnflag") === "R"),
          col("l_partkey"), "y")
        val med = r.join(t, "j")
          .select(expr("(j - 1) DIV 4").as("g"),
            (col("x") * col("y")).as("p"))
          .groupBy(col("g")).agg(sum(col("p")).as("gs"))
          .agg((sum(col("gs")) - max(col("gs")) - min(col("gs"))).as("m"))
        val fa = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("fa"))
        val fb = li.filter(col("l_returnflag") === "R")
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("fb"))
        val exact = fa.join(fb, "l_partkey")
          .agg(sum(col("fa") * col("fb")).as("exact_join_size"))
        med.crossJoin(exact)
          .select(col("exact_join_size"),
            (col("m").cast("double") / 4.0).as("est_join_size"),
            ((col("m").cast("double") / 4.0 -
              col("exact_join_size").cast("double")) /
              col("exact_join_size").cast("double")).as("rel_err"))
      },
      Some("""WITH seeds AS (SELECT unnest(range(1, 13)) AS j),
             |r AS (
             |  SELECT j, CAST(sum(1 - 2 * (CAST(concat('0x',
             |      substr(md5(concat(CAST(j AS VARCHAR), '|',
             |        CAST(l_partkey AS VARCHAR))), 1, 1)) AS INTEGER) % 2))
             |    AS BIGINT) AS x
             |  FROM lineitem CROSS JOIN seeds GROUP BY j),
             |t AS (
             |  SELECT j, CAST(sum(1 - 2 * (CAST(concat('0x',
             |      substr(md5(concat(CAST(j AS VARCHAR), '|',
             |        CAST(l_partkey AS VARCHAR))), 1, 1)) AS INTEGER) % 2))
             |    AS BIGINT) AS y
             |  FROM lineitem CROSS JOIN seeds
             |  WHERE l_returnflag = 'R' GROUP BY j),
             |grp AS (
             |  SELECT (j - 1) // 4 AS g, CAST(sum(x * y) AS BIGINT) AS gs
             |  FROM r JOIN t USING (j) GROUP BY 1),
             |med AS (
             |  SELECT CAST(sum(gs) - max(gs) - min(gs) AS BIGINT) AS m
             |  FROM grp),
             |exact AS (
             |  SELECT CAST(sum(fa * fb) AS BIGINT) AS exact_join_size FROM
             |    (SELECT l_partkey, count(*) AS fa
             |     FROM lineitem GROUP BY 1) a
             |    JOIN (SELECT l_partkey, count(*) AS fb
             |          FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1) b
             |    USING (l_partkey))
             |SELECT exact_join_size,
             |  CAST(m AS DOUBLE) / 4.0 AS est_join_size,
             |  (CAST(m AS DOUBLE) / 4.0 - CAST(exact_join_size AS DOUBLE))
             |    / CAST(exact_join_size AS DOUBLE) AS rel_err
             |FROM med CROSS JOIN exact""".stripMargin),
      "AMS tug-of-war join-size estimate: 12 signed sums per relation " +
        "(one map-side-combined pass each, relations never joined), " +
        "median-of-means extract — the optimizer's cardinality " +
        "primitive; exact join size from the frequency rollup alongside"),

    // M4 time-series downsampling (Jugel et al., VLDB 2014): per pixel
    // bucket keep min, max, first and last — the four points that make
    // a line chart of the bucket RENDER IDENTICALLY to the full series.
    // This is the visualization-grade reduction for 100 TB telemetry:
    // one hash aggregate (min/max are plain aggs; first/last are
    // min_by/max_by under a total order), map-side combined, shuffle ∝
    // series × buckets, no window sort of raw rows — unlike LTTB,
    // whose chosen point depends sequentially on the previous bucket's
    // choice and therefore can't map-side-combine. The tie-broken
    // order PACKS into one long (the events_ohlc_bars rule: a STRUCT
    // key demotes the aggregate to SortAggregate): micros-within-hour
    // (<2³²; the hour is already in the group key) ×2²⁶ + event_id mod
    // 2²⁶ — min_by/max_by on a LONG key keep the whole thing ONE
    // HashAggregate, plan-audited. Buckets are fixed hour multiples of
    // epoch micros (no pre-scan for the time span). All outputs are
    // selections of stored values or integer counts — exact, unrounded.
    Q("events_m4_downsample",
      (s, d) => load(s, d, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("bucket"),
          ((unix_micros(col("ts")) % 3600000000L) * 67108864L +
            pmod(col("event_id"), lit(67108864L))).as("ord"),
          col("value"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"),
          min_by(col("value"), col("ord")).as("v_first"),
          max_by(col("value"), col("ord")).as("v_last")),
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
             |    (epoch_us(ts) % 3600000000) * 67108864
             |      + event_id % 67108864 AS ord,
             |    value
             |  FROM events)
             |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
             |  min(value) AS v_min, max(value) AS v_max,
             |  arg_min(value, ord) AS v_first,
             |  arg_max(value, ord) AS v_last
             |FROM ev GROUP BY 1, 2""".stripMargin),
      "M4 chart downsampling: min/max/first/last per (series, hour " +
        "bucket) in ONE map-side-combined hash aggregate — " +
        "pixel-faithful reduction without sorting raw rows"),

    // Nearest as-of join with tolerance (pandas merge_asof parity —
    // directions beyond the classic backward lookup): every error
    // event attaches the CLOSEST purchase of the same user within 24h,
    // before OR after, ties preferring backward. Served by the NATIVE
    // exec (plans/AsofJoinNative.scala): in the single merge pass the
    // backward candidate is the per-key newest consumed right row and
    // the forward candidate is the next buffered one, so nearest+
    // tolerance cost NOTHING beyond the backward scan — where the
    // composed AsofJoin needs a second descending window
    // (AsofJoinNativeSpec pins parity between the two on this exact
    // shape). The oracle is an INDEPENDENT formulation: DuckDB LATERAL
    // picks argmin |Δt| under the same tie rules, so the merge pass is
    // value-checked against a direct nearest-neighbor definition, not
    // replayed. ~half the errors have no purchase within tolerance at
    // sf0.001 — both the matched and the null branch are live.
    Q("join_asof_nearest",
      (s, d) => {
        val ev = persistOnce(load(s, d, "events"))
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
        val pur = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        graft.plans.AsofJoinNative(err, pur,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          rightPayload = Seq("purchase_id", "p_ts"),
          direction = "nearest", toleranceSec = Some(86400L))
          .select(col("error_id"), col("user_id"), col("purchase_id"),
            (abs(unix_micros(col("ts")) - unix_micros(col("p_ts"))) /
              1000000L).cast("long").as("gap_s"))
      },
      Some("""WITH err AS (
             |  SELECT event_id AS error_id, user_id, ts FROM events
             |  WHERE event_type = 'error'),
             |pv AS (
             |  SELECT user_id, ts, max(event_id) AS purchase_id
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             |SELECT e.error_id, e.user_id, m.purchase_id, m.gap_s
             |FROM err e LEFT JOIN LATERAL (
             |  SELECT p.purchase_id,
             |    CAST(abs(epoch_us(p.ts) - epoch_us(e.ts)) // 1000000
             |      AS BIGINT) AS gap_s
             |  FROM pv p
             |  WHERE p.user_id = e.user_id
             |    AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 86400000000
             |  ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)),
             |    (p.ts > e.ts), p.purchase_id
             |  LIMIT 1) m ON TRUE""".stripMargin),
      "nearest-direction as-of join with 24h tolerance: one shuffle + " +
        "two windows, checked against an independent LATERAL argmin " +
        "formulation with identical tie rules"),

    // Split-conformal prediction intervals (the distribution-free
    // calibration wrapper production ML ships around point models):
    // hash-split orders into train/calibration/test, fit the trivial
    // per-priority mean on train, take the ceil((n+1)(1-α))-th
    // smallest calibration residual as the group's interval half-width
    // q̂, then MEASURE the guaranteed ≥1−α coverage on the held-out
    // test split. Exactness: with ŷ_g = S_g/n_g, |y − ŷ_g| ordering
    // and the coverage test both scale by n_g into INTEGER arithmetic
    // (|y·n_g − S_g| vs the chosen residual's same-scaled value), so
    // order statistics, ties (by order key) and the coverage flags are
    // engine-exact; only the reported widths/rates divide. Scale
    // shape: one hash-split scan, per-GROUP windows only (residual
    // rank is priority-partitioned), 1-row-per-group broadcasts.
    Q("eval_conformal_coverage",
      (s, d) => {
        val o = persistOnce(load(s, d, "orders").select(
          col("o_orderpriority").as("grp"),
          round(col("o_totalprice") * 100).cast("long").as("y"),
          col("o_orderkey").as("k"),
          (conv(substring(md5(concat(lit("conf|"),
            col("o_orderkey").cast("string"))), 1, 2), 16, 10)
            .cast("int") % 4).as("fold")))
        val model = o.filter(col("fold") <= 1)
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"))
        val cal = o.filter(col("fold") === 2).join(broadcast(model), "grp")
          .withColumn("rint", abs(col("y") * col("ng") - col("sg")))
        val wr = Window.partitionBy(col("grp"))
          .orderBy(col("rint"), col("k"))
        val ranked = cal
          .withColumn("rn", row_number().over(wr).cast("long"))
          .withColumn("ncal", count(lit(1)).over(Window.partitionBy("grp")))
        // q-index = ceil(0.9 * (ncal + 1)) clamped to ncal
        val qhat = ranked
          .filter(col("rn") ===
            least(col("ncal"), expr("(9 * (ncal + 1) + 9) div 10")))
          .select(col("grp"), col("rint").as("qint"), col("ncal"))
        val test = o.filter(col("fold") === 3).join(broadcast(model), "grp")
          .join(broadcast(qhat), "grp")
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(abs(col("y") * col("ng") - col("sg")) <= col("qint"),
              1L).otherwise(0L)).as("n_covered"))
        test.join(qhat, "grp").join(model, "grp")
          .select(col("grp"), col("ncal").as("n_cal"), col("n_test"),
            (col("qint").cast("double") / (col("ng") * lit(100.0)))
              .as("q_width"),
            (col("n_covered").cast("double") / col("n_test"))
              .as("coverage"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderpriority AS grp,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
             |    o_orderkey AS k,
             |    CAST(concat('0x', substr(md5(concat('conf|',
             |      CAST(o_orderkey AS VARCHAR))), 1, 2)) AS INTEGER) % 4
             |      AS fold
             |  FROM orders),
             |model AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(y) AS BIGINT) AS sg
             |  FROM o WHERE fold <= 1 GROUP BY 1),
             |cal AS (
             |  SELECT o.grp, abs(y * ng - sg) AS rint, k, ng
             |  FROM o JOIN model USING (grp) WHERE fold = 2),
             |ranked AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY grp
             |      ORDER BY rint, k) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS ncal
             |  FROM cal),
             |qhat AS (
             |  SELECT grp, rint AS qint, ncal FROM ranked
             |  WHERE rn = least(ncal, (9 * (ncal + 1) + 9) // 10)),
             |test AS (
             |  SELECT o.grp, CAST(count(*) AS BIGINT) AS n_test,
             |    CAST(sum(CASE WHEN abs(y * ng - sg) <= qint
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
             |  FROM o JOIN model USING (grp) JOIN qhat USING (grp)
             |  WHERE fold = 3 GROUP BY 1)
             |SELECT grp, ncal AS n_cal, n_test,
             |  CAST(qint AS DOUBLE) / (ng * 100.0) AS q_width,
             |  CAST(n_covered AS DOUBLE) / n_test AS coverage
             |FROM test JOIN qhat USING (grp) JOIN model USING (grp)""".stripMargin),
      "split-conformal intervals per priority class: integer-scaled " +
        "residual order statistics pick the 90% half-width, held-out " +
        "coverage measured exactly — the distribution-free guarantee, " +
        "hash-split reproducible"))
}
