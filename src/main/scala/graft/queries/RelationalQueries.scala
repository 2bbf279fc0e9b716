package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational capability queries over the TPC-H-ish star schema — the
  * operator categories the reference lacks (SURVEY.md §2.3 "ABSENT" rows):
  * scans, filters, multi-way joins, hash aggregation, rollup, window
  * functions, global top-k, set ops, distinct aggregation, date/string
  * scalar functions. Each is paired with a DuckDB oracle.
  *
  * Scale stance (100 TB): dimension sides (region/nation/supplier/customer)
  * are always `broadcast()` so the lineitem scan never shuffles for joins;
  * aggregations group on low-cardinality keys (partial agg collapses before
  * the exchange); top-k is `orderBy+limit` (Spark runs TakeOrderedAndProject
  * — no global sort materialization). Float aggregates are rounded in both
  * engines; ORDER BY uses the rounded value so ordering can't flip on
  * last-ulp differences.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, s"$dir/$name.parquet")

  /** TPC-H Q1-style pricing summary: filter + hash agg + scalar math. */
  def q1Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2).as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double"), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: 3-way join + agg + deterministic top-10. */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
        .cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: region→nation→supplier→lineitem chain, revenue per nation. */
  def q5NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val reg = t(s, dir, "region").where(col("r_name") === "ASIA")
    val nat = t(s, dir, "nation")
    val sup = t(s, dir, "supplier")
    val li = t(s, dir, "lineitem")
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
        .cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Window function: top-3 orders per customer by price (row_number). */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"),
        round(col("o_totalprice"), 2).as("price"))
  }

  /** Global deterministic top-20 (TakeOrderedAndProject, no full sort). */
  def qTop20(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  /** Set operation: customers with both a finished and an open order. */
  def qSetIntersect(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.where(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(ord.where(col("o_orderstatus") === "O").select(col("o_custkey")))
  }

  /** EXCEPT: customers with finished orders but no open ones (plans as a
    * left-anti join after dedup — same shuffle count as intersect). */
  def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.where(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(ord.where(col("o_orderstatus") === "O").select(col("o_custkey")))
  }

  /** Distinct aggregation + HAVING: parts sourced from ≥3 suppliers. */
  def qDistinctHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"))
      .where(col("n_supp") >= 3)

  /** Date + conditional aggregation: monthly discounted-sales summary. */
  def qMonthly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(lit(0.0))
          .cast("decimal(18,4)")).cast("double"), 2).as("discounted_sales"))

  /** k-anonymity re-identification threshold for [[qPrivKAnon]]. */
  val KAnon = 5L

  /** k-anonymity audit over the quasi-identifier (nation, market segment,
    * account-balance-thousand bucket) — the data-governance check run
    * before releasing a table: any QI cohort smaller than k is a
    * re-identification risk and must be suppressed or generalized. Emits
    * the at-risk cohorts with their sizes plus each cohort's member-id
    * span (min/max — what a suppression pass needs to target). One
    * partial-aggregated groupBy; the QI bucket is computed in-scan
    * (floor over a double is engine-exact). At 100 TB this is the same
    * one-shuffle shape at any cohort cardinality. */
  def qPrivKAnon(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
      .agg(count(lit(1)).as("cohort_n"),
        min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
      .where(col("cohort_n") < KAnon)

  /** Minimum distinct sensitive values per quasi-identifier cohort for
    * [[qPrivLDiversity]]'s l-diversity audit. */
  val LDiv = 4

  /** l-DIVERSITY audit — the companion check to [[qPrivKAnon]]: k-anonymity
    * alone fails the homogeneity attack (a cohort of 50 people who ALL
    * share one sensitive value re-identifies the attribute without
    * re-identifying anyone), so release pipelines also require each
    * quasi-identifier cohort to span ≥ l distinct sensitive values. QI =
    * (nation, segment), sensitive = the 2000-unit balance band. Emits the
    * full per-cohort audit table — cohort size, distinct sensitive count,
    * the dominant band's count (the recursive-(c,l) ingredient), and the
    * l≥[[LDiv]] verdict — rather than violators only, so the result is
    * scale-stable (a violators-only cut empties at large SF where every
    * cohort diversifies). One two-level aggregate: per-(QI, band) counts,
    * then per-QI rollup — both with map-side partials, QI-cardinality
    * output. */
  def qPrivLDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 2000).cast("long").as("band"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("nation"), col("segment"))
      .agg(sum(col("n")).as("cohort_n"),
        count(lit(1)).as("n_sensitive"),
        max(col("n")).as("max_sens_n"))
      .withColumn("l_ok", (col("n_sensitive") >= LDiv).cast("int"))

  /** t-CLOSENESS audit — the third rung of the anonymity ladder after
    * [[qPrivKAnon]] and [[qPrivLDiversity]]: a cohort can be k-anonymous
    * AND l-diverse yet still leak if its sensitive-value DISTRIBUTION
    * skews far from the corpus-wide one (the classic salary-band example).
    * Per (nation, segment) cohort this computes the total-variation
    * distance between the cohort's balance-band distribution and the
    * global one — kept EXACT by cross-multiplying instead of dividing:
    *
    *   TV(g) = ½ Σ_s |n_gs/n_g − n_s/N| = Σ_s |n_gs·N − n_s·n_g| / (2·n_g·N)
    *
    * so the audit carries the integer numerator `tv_num = Σ_s |n_gs·N −
    * n_s·n_g|` and flags t-closeness at t = ½ by the pure-integer
    * comparison `tv_num ≤ n_g·N` — no float division anywhere, bit-exact
    * on both engines. Bands ABSENT from a cohort still contribute
    * (|0 − n_s·n_g|) via the grid join, the classic missing-mass bug the
    * left join guards against. All three frames are group-cardinality
    * (≤ nations×segments×bands), so every join is broadcast-sized at any
    * corpus scale. */
  def qPrivTCloseness(s: SparkSession, dir: String): DataFrame = {
    val banded = t(s, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 2000).cast("long").as("band"))
    val gs = banded.groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("n_gs"))
    val g = gs.groupBy(col("nation"), col("segment")).agg(sum(col("n_gs")).as("n_g"))
    val sGlob = gs.groupBy(col("band")).agg(sum(col("n_gs")).as("n_s"))
    val total = sGlob.agg(sum(col("n_s")).as("n_tot"))
    g.crossJoin(broadcast(sGlob)).crossJoin(broadcast(total))
      .join(gs, Seq("nation", "segment", "band"), "left")
      .groupBy(col("nation"), col("segment"))
      .agg(max(col("n_g")).as("cohort_n"),
        sum(abs(coalesce(col("n_gs"), lit(0L)) * col("n_tot")
          - col("n_s") * col("n_g"))).as("tv_num"),
        max(col("n_g") * col("n_tot")).as("tv_den_half"))
      .withColumn("t_ok", (col("tv_num") <= col("tv_den_half")).cast("int"))
  }

  /** Reported-bit flip threshold for [[qPrivRandResponse]]: report the true
    * bit when hash%4 < 3 (p = ¾), the flipped bit otherwise. */
  val RrKeep = 3L

  /** RANDOMIZED RESPONSE — the local-DP collection mechanism (Warner '65;
    * the RAPPOR core): each customer reports whether they hold a BUILDING
    * account truthfully only with probability p = [[RrKeep]]/4, privacy
    * riding on the per-respondent coin, utility recovered in aggregate by
    * the unbiased estimator n̂ = (obs − (1−p)·n)/(2p−1). The coin is the
    * seeded per-key md5 hash (the [[qStratifiedSample]] fixture
    * discipline) so the entry is deterministic and the oracle replays the
    * flips literally. With p = ¾ the estimator is n̂ = 2·obs − n/2, carried
    * as exact HALF-units (`est_half = 4·obs − n`, meaning n̂ = est_half/2)
    * so no division ever leaves the integers. The true count rides along
    * per nation — synthetic data, so the estimator's error is auditable in
    * the result itself. One scan, nation-cardinality output. */
  def qPrivRandResponse(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nation"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("b"),
        (graft.functions.VectorSql.md5Hash60(
          concat(lit("rr:"), col("c_custkey").cast("string"))) % 4 < RrKeep)
          .cast("long").as("keep"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("b")).as("true_n"),
        sum(col("keep") * col("b") + (lit(1L) - col("keep")) * (lit(1L) - col("b")))
          .as("obs"))
      .withColumn("est_half", lit(4L) * col("obs") - col("n"))

  /** CENTRAL-DP COUNT RELEASE via the GEOMETRIC MECHANISM — the
    * differential-privacy count query done with INTEGER-EXACT noise
    * (closing the r13 deferral: Laplace needs `ln`, whose cross-engine
    * float risk is why randomized response shipped instead; the geometric
    * mechanism P(k) ∝ α^|k| is the discrete ε-DP standard for counts —
    * Ghosh–Roughgarden–Sundararajan's universally-optimal mechanism — and
    * with α = 1/2 (ε = ln 2, sensitivity-1 counts) its inverse CDF is pure
    * binary arithmetic): per-nation customer counts plus two-sided
    * geometric noise drawn by inverse CDF on the seeded md5 coin.
    * Everything is bigint — u = t/3·2⁶⁰ with t = 3·h, and the CDF
    * boundaries are powers of two, so noise = the unique k with
    * band(k).lo ≤ t < band(k).hi over 121 precomputed integer bands
    * (|k| ≤ 60 spans all but ~5e-19 of the mass; the tails clamp).
    * The seeded coin is the TESTING seam (the oracle replays the noise
    * literally — the DP-release discipline every gated privacy entry
    * follows; production swaps in secret randomness, nothing else
    * changes). `true_n` and `noise` ride along as the planted-truth audit
    * columns, priv_rand_response's convention. Cost: one scan with
    * map-side combine into group-cardinality cells, then a 25×121
    * broadcast band join — constant beyond the scan at any corpus size. */
  def qPrivDpCounts(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nation"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("t", lit(3L) * graft.functions.VectorSql.md5Hash60(
        concat(lit("dp:"), col("nation").cast("string"))))
    // the inverse-CDF bands: F(k)·3·2⁶⁰ = 2^(k+61) for k ≤ −1,
    // 3·2⁶⁰ − 2^(60−k) for k ≥ 0; shift amounts clamped into [0, 62] so
    // the not-taken CASE branch can never shift out of range
    val bands = s.range(-60, 61).select(col("id").cast("int").as("k"))
      .withColumn("lo", expr(
        "CASE WHEN k = -60 THEN 0L " +
          "WHEN k <= -1 THEN shiftleft(1L, cast(least(greatest(k + 60, 0), 62) as int)) " +
          "ELSE 3 * shiftleft(1L, 60) - " +
          "shiftleft(1L, cast(least(greatest(61 - k, 0), 62) as int)) END"))
      .withColumn("hi", expr(
        "CASE WHEN k <= -1 THEN shiftleft(1L, cast(least(greatest(k + 61, 0), 62) as int)) " +
          "WHEN k <= 59 THEN 3 * shiftleft(1L, 60) - " +
          "shiftleft(1L, cast(least(greatest(60 - k, 0), 62) as int)) " +
          "ELSE shiftleft(1L, 62) END"))
    g.join(broadcast(bands), col("t") >= col("lo") && col("t") < col("hi"))
      .select(col("nation"), col("true_n"), col("k").as("noise"),
        (col("true_n") + col("k")).as("released"))
  }

  /** Ship-months at or after this fall in the "delta" (today's increment);
    * earlier months live in the stored base rollup. */
  val IncrCutoff = "1997-01-01"

  /** The algebraic partial state an incrementally-maintained rollup stores:
    * count + sums only (never a ratio — derived measures are computed AFTER
    * the merge, the classic materialized-view discipline). */
  private def rollupPartial(li: DataFrame): DataFrame =
    li.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"))

  /** Incrementally-maintained monthly rollup: the pre-cutoff base rollup is
    * a REAL stored artifact (written once through [[graft.operators.Artifacts]],
    * read back — yesterday's materialized view), the post-cutoff delta is
    * aggregated increment-sized, and the two merge by SUMMING PARTIALS
    * (union + re-aggregate — the same algebraic combine Spark's map-side
    * partial aggregation performs). The derived average is computed after
    * the merge in exact integer units (revenue·10⁴ div count — the
    * decimal's 4-digit scale makes the scaled value integral, so no
    * truncate-vs-round cast divergence can reach the hash gate). The oracle
    * is the FULL recompute over all of lineitem: the maintenance seam must
    * be result-invisible. At 100 TB the daily cost is the increment scan
    * plus a merge shuffled on the (month, flag) key space — never the
    * history rescan the oracle performs. */
  def qIncrRollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val mvPath = graft.operators.Artifacts.sharedPath(s, s"incr_rollup:$dir") { path =>
      rollupPartial(li.where(col("l_shipdate") < lit(IncrCutoff)))
        .write.parquet(path)
    }
    val merged = Tables.parquet(s, mvPath)
      .unionByName(rollupPartial(li.where(col("l_shipdate") >= lit(IncrCutoff))))
      .groupBy(col("month"), col("l_returnflag"))
      .agg(sum(col("n_items")).cast("long").as("n_items"),
        round(sum(col("sum_qty")), 2).as("sum_qty"),
        sum(col("rev")).as("rev"))
    // revenue in exact integer e4 units, like the derived average: at sf1
    // the monthly sums reach ~1.2e9 where round(CAST(decimal AS DOUBLE), 2)
    // straddles a half-up boundary differently per engine (6/249 rows) —
    // the scaled integer is the only magnitude-proof spelling
    merged.select(col("month"), col("l_returnflag"), col("n_items"),
      col("sum_qty"),
      expr("cast(rev * 10000 as bigint)").as("revenue_e4"),
      expr("cast(rev * 10000 as bigint) div n_items").as("avg_item_e4"))
  }

  /** The (month, l_returnflag)-grain monthly rollup MV both
    * [[qMvRewrite]] entries serve from — n_items (long), sum_qty
    * (exact integer-valued double sums), rev (decimal(18,4) partials,
    * exactly the type whose re-aggregation reproduces the query's
    * Sum-of-cast to the bit). Written once through Artifacts. */
  private def mvMonthlyPath(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"mv_monthly:$dir") { path =>
      Tables.parquet(s, s"$dir/lineitem.parquet")
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("decimal(18,4)").as("rev"))
        .write.parquet(path)
    }

  private def mvQuery(fork: SparkSession, dir: String,
                      groupFlag: Boolean): DataFrame = {
    val mvPlan = Tables.parquet(fork, mvMonthlyPath(fork, dir))
      .queryExecution.analyzed
    fork.experimental.extraOptimizations =
      fork.experimental.extraOptimizations :+
        graft.plans.MvRollupRewrite(mvPlan, "lineitem.parquet")
    // the USER'S query: a plain aggregate over the raw fact table — the
    // MV appears nowhere in it; the optimizer rule alone routes it
    val li = Tables.parquet(fork, s"$dir/lineitem.parquet")
    val keys =
      if (groupFlag) Seq(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_returnflag"))
      else Seq(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
    val agg = li.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"))
    val out = Seq(col("month")) ++
      (if (groupFlag) Seq(col("l_returnflag")) else Nil) ++
      Seq(col("n_items"), round(col("sum_qty"), 2).as("sum_qty"),
        expr("cast(rev * 10000 as bigint)").as("revenue_e4"))
    agg.select(out: _*)
  }

  /** AUTOMATIC materialized-view rewrite
    * ([[graft.plans.MvRollupRewrite]], the `extraOptimizations` leg of
    * the extension story): the entry runs the PLAIN monthly aggregate
    * over raw lineitem — no MV reference anywhere in the query — and the
    * injected rule rewrites the plan to re-aggregate the stored
    * (month, flag) rollup instead (count→sum of partial counts, sums →
    * sums of exact partials). PlanSpec asserts the fact scan is GONE
    * from the physical plan and the MV layout is scanned; the oracle is
    * the full recompute over lineitem the rewrite must be invisible to.
    * At 100 TB the fact scan simply disappears: the query costs
    * O(months × flags). */
  def qMvRewrite(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    mvQuery(fork, dir, groupFlag = true)
  }

  /** The CONTAINMENT case: the user groups by month only — coarser than
    * the MV's (month, flag) grain — and the same rule re-aggregates
    * across flags (the partial-sum algebra that makes rollup MVs
    * composable). Same oracle discipline: plain recompute. */
  def qMvRewriteCoarse(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    mvQuery(fork, dir, groupFlag = false)
  }

  /** STREAMING MV MAINTENANCE — the missing third of the MV story
    * ([[qIncrRollup]] maintains by hand at a cutoff; [[qMvRewrite]]
    * serves automatically; this keeps the MV FRESH under streaming
    * ingest): lineitem arrives as four staged micro-batches, and
    * `foreachBatch` appends each batch's (month, flag) PARTIAL rollup
    * under a batch-id-keyed directory with overwrite — the same
    * deterministic-id idempotence as the CDC entries, so at-least-once
    * delivery yields exactly-once partials. The MV is the UNION of
    * partial files (append-only — no read-modify-write race, the
    * log-structured MV shape) and serving re-aggregates them: partial
    * counts sum, integer-valued quantity partials sum exactly, decimal
    * revenue partials sum exactly, so the served result equals the
    * full-corpus rollup and the oracle is [[qMvRewrite]]'s VERBATIM.
    * At 100 TB each refresh costs one increment's aggregate (partial
    * output is months×flags-sized metadata); re-aggregation cost grows
    * with batch count until a compaction folds partials — both shapes
    * this library already proves elsewhere. */
  def mvRefreshStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val root = StreamScratch.fresh("mvrefresh")
    val (mvDir, ckpt) = (s"$root/mv", s"$root/ckpt")
    val li = Tables.parquet(fork, s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    // immutable staged increments cached per session (MV dir + checkpoint
    // stay per-run fresh, so every refresh batch still replays)
    val inDir = StreamScratch.stageOrderedShared(s, s"mvrefresh_4:$dir") {
      (0 to 3).map(k => li.where(expr(s"l_orderkey % 4 = $k")))
    }
    val stream = fork.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
            col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).as("sum_qty"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,4)")).cast("decimal(18,4)").as("rev"))
          .write.mode("overwrite").parquet(s"$mvDir/batch=$id")
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = new java.io.File(mvDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.toString).sorted
    Tables.parquet(fork, batches: _*)
      .groupBy(col("month"), col("l_returnflag"))
      .agg(sum(col("n_items")).cast("long").as("n_items"),
        round(sum(col("sum_qty")), 2).as("sum_qty"),
        expr("cast(sum(rev) * 10000 as bigint)").as("revenue_e4"))
  }

  /** The lineitem-derived versioned store [[mvRefreshCdf]] maintains its
    * MV against: one row per order item (key lkey = l_orderkey·8 +
    * l_linenumber; l_linenumber ≤ 7 — the synthetic generator DUPLICATES
    * some (orderkey, linenumber) pairs, so collisions collapse to a
    * canonical row, min per column, making the key genuinely unique; a
    * real lineitem table has the uniqueness natively), the MV's grain
    * columns (month, flag) plus the exact measures (integer-valued
    * quantity, decimal(18,4) revenue), bucketed by lkey mod 16. Two MIXED
    * commits: v2 doubles stripe-1 quantities (U) and deletes stripe 2
    * (D); v3 inserts key-shifted copies of stripe 3 (I, bucket preserved
    * — the shift is a multiple of 16) and bumps stripe-4 revenue by an
    * exact 0.01 (U on the decimal measure). Stripe = l_orderkey mod 40. */
  private def mvCdfLayout(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"mvcdf:$dir") { path =>
      val table = s"$path/table"
      val li = Tables.parquet(s, s"$dir/lineitem.parquet")
        .select(expr("l_orderkey * 8 + l_linenumber").as("lkey"),
          date_format(col("l_shipdate"), "yyyy-MM").as("month"),
          col("l_returnflag"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
        .groupBy(col("lkey"))
        .agg(min(col("month")).as("month"),
          min(col("l_returnflag")).as("l_returnflag"),
          min(col("l_quantity")).as("l_quantity"),
          min(col("rev")).as("rev"))
        .withColumn("bucket", pmod(col("lkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(li, table, "bucket", 16)
      val stripe = pmod(expr("lkey DIV 8"), lit(40))
      val u2 = li.where(stripe === 1)
        .withColumn("l_quantity", col("l_quantity") * 2).withColumn("op", lit("U"))
      val d2 = li.where(stripe === 2).withColumn("op", lit("D"))
      graft.sources.Versioned.commitMerge(s, u2.unionByName(d2), table, 2,
        "lkey", "bucket")
      val k0 = (li.agg(max(col("lkey"))).head().getLong(0) / 16 + 1) * 16
      val i3 = li.where(stripe === 3)
        .withColumn("lkey", col("lkey") + lit(k0)).withColumn("op", lit("U"))
      val u3 = li.where(stripe === 4)
        .withColumn("rev", expr("cast(rev + 0.01 as decimal(18,4))"))
        .withColumn("op", lit("U"))
      graft.sources.Versioned.commitMerge(s, i3.unionByName(u3), table, 3,
        "lkey", "bucket")
    }

  /** CDF-DRIVEN MV MAINTENANCE — the fourth leg of the MV story closing
    * the triangle's missing edge (manual `q_incr_rollup`, automatic
    * serving `q_mv_rewrite`, append-only streaming `mv_refresh_stream`;
    * this one maintains the MV against UPDATES AND DELETES, not just
    * inserts): the input is the store's own per-commit change feed
    * ([[graft.sources.Versioned.changes]] with preimages — the
    * `store_changes_stream` composition the feed exists for), consumed as
    * a stream of commit signals. Each micro-batch folds one commit's feed
    * into (month, flag) DELTA partials with SIGNED measures — 'I'/'U+'
    * rows add (+1, +qty, +rev), 'D'/'U-' rows subtract — so retraction is
    * exact subtraction of exact partials (bigint counts, integer-valued
    * qty, decimal(18,4) rev): no recompute, no approximation, and an
    * update that MOVES a row across groups retracts from the old grain
    * cell and adds to the new one by construction. Partials land under
    * version-keyed overwrite dirs (deterministic-id exactly-once, the
    * `mv_refresh_stream` discipline); serving re-aggregates base-MV ∪
    * deltas and drops zeroed-out groups. The oracle recomputes the
    * POST-CHANGE rollup relationally (the `q_mv_rewrite` oracle shape
    * over the three commits' change formulas) — maintained must equal
    * recomputed, bit for bit. At 100 TB each refresh costs one commit's
    * delta feed (2×delta IO) + a months×flags-sized fold; the fact table
    * is never rescanned. */
  def mvRefreshCdf(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    import fork.implicits._
    val table = s"${mvCdfLayout(fork, dir)}/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    val root = StreamScratch.fresh("mvcdf")
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    // one commit-signal row per micro-batch (tiny; staged per-run)
    StreamScratch.stageOrdered(inDir, (2 to vLast).map(v => Seq(v).toDF("version")))
    val stream = fork.readStream.schema("version INT")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("version")).distinct().collect().map(_.getInt(0)).foreach { v =>
          val (cdf, _) = graft.sources.Versioned.changes(
            b.sparkSession, table, v - 1, v, "lkey", withPreimage = true)
          val add = col("op").isin("I", "U+")
          cdf.groupBy(col("month"), col("l_returnflag"))
            .agg(sum(when(add, 1L).otherwise(-1L)).as("n_items"),
              sum(when(add, col("l_quantity")).otherwise(-col("l_quantity")))
                .as("sum_qty"),
              sum(when(add, col("rev")).otherwise(-col("rev")))
                .cast("decimal(18,4)").as("rev"))
            .write.mode("overwrite").parquet(s"$outDir/v$v")
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val base = graft.sources.Versioned.readVersion(fork, table, 1)
      .groupBy(col("month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"),
        sum(col("rev")).cast("decimal(18,4)").as("rev"))
    val deltaDirs = (2 to vLast).map(v => s"$outDir/v$v")
    base.unionByName(Tables.parquet(fork, deltaDirs: _*))
      .groupBy(col("month"), col("l_returnflag"))
      .agg(sum(col("n_items")).as("n_items"), sum(col("sum_qty")).as("sum_qty"),
        sum(col("rev")).cast("decimal(18,4)").as("rev"))
      // a grain cell whose rows are all deleted must VANISH, exactly as a
      // recompute would never emit it
      .where(col("n_items") > 0)
      .select(col("month"), col("l_returnflag"), col("n_items"),
        round(col("sum_qty"), 2).as("sum_qty"),
        expr("cast(rev * 10000 as bigint)").as("revenue_e4"))
  }

  /** [[mvRefreshCdf]] with the maintainer consuming the store's change
    * feed THROUGH the streaming source — `readStream.format("graftstore")`
    * with `withPreimage true`, the composition the source exists for
    * (Delta CDF's flagship downstream: a streaming MV/index maintainer).
    * No commit-signal harness and no library call inside the loop: the
    * batch IS the preimage feed ('I'/'U+' add signed partials, 'D'/'U−'
    * subtract — exact retraction), version-keyed overwrite dirs keep
    * at-least-once delivery exactly-once, and serving re-aggregates
    * base ∪ deltas. Oracle = [[mvRefreshCdf]]'s VERBATIM (one maintenance
    * contract, two consumption surfaces). Refresh cost per commit is the
    * 2×delta feed read + a months×flags-sized fold — the fact table is
    * never rescanned. */
  def mvRefreshCdfStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val table = s"${mvCdfLayout(fork, dir)}/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    val root = StreamScratch.fresh("mvcdfsrc")
    val (outDir, ckpt) = (s"$root/out", s"$root/ckpt")
    val q = fork.readStream.format("graftstore")
      .option("path", table).option("keyCol", "lkey")
      .option("withPreimage", "true").option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("_commit_version")).distinct()
          .collect().map(_.getInt(0)).foreach { v =>
            val add = col("op").isin("I", "U+")
            b.where(col("_commit_version") === v)
              .groupBy(col("month"), col("l_returnflag"))
              .agg(sum(when(add, 1L).otherwise(-1L)).as("n_items"),
                sum(when(add, col("l_quantity")).otherwise(-col("l_quantity")))
                  .as("sum_qty"),
                sum(when(add, col("rev")).otherwise(-col("rev")))
                  .cast("decimal(18,4)").as("rev"))
              .write.mode("overwrite").parquet(s"$outDir/v$v")
          }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val base = graft.sources.Versioned.readVersion(fork, table, 1)
      .groupBy(col("month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"),
        sum(col("rev")).cast("decimal(18,4)").as("rev"))
    val deltaDirs = (2 to vLast).map(v => s"$outDir/v$v")
    base.unionByName(Tables.parquet(fork, deltaDirs: _*))
      .groupBy(col("month"), col("l_returnflag"))
      .agg(sum(col("n_items")).as("n_items"), sum(col("sum_qty")).as("sum_qty"),
        sum(col("rev")).cast("decimal(18,4)").as("rev"))
      .where(col("n_items") > 0)
      .select(col("month"), col("l_returnflag"), col("n_items"),
        round(col("sum_qty"), 2).as("sum_qty"),
        expr("cast(rev * 10000 as bigint)").as("revenue_e4"))
  }

  /** The hinted join [[qJoinHints]] and PlanSpec share: revenue per order
    * priority, lineitem ⋈ orders, with a caller-chosen strategy hint on
    * the orders side ("" = no hint, Spark's own choice). */
  def joinHinted(s: SparkSession, dir: String, hint: String): DataFrame = {
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    val hinted = if (hint.isEmpty) ord else ord.hint(hint)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(hinted, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        expr("cast(sum(cast(l_extendedprice * (1 - l_discount) " +
          "as decimal(18,4))) * 10000 as bigint)").as("revenue_e4"))
  }

  /** JOIN STRATEGY HINTS — the user-facing lever over Catalyst's join
    * planning: the entry runs the SHUFFLE_HASH-hinted form (the strategy
    * Spark would not pick here on its own — the orders side broadcasts by
    * default at test scale, and sort-merge wins once both sides are big),
    * and PlanSpec asserts all three hints land their physical operator
    * (ShuffledHashJoin / SortMergeJoin / BroadcastHashJoin) on the SAME
    * query. Hints choose the ALGORITHM, never the answer — one oracle for
    * every strategy. The 100 TB relevance: a fact-fact join where the
    * planner's size estimates are wrong is exactly where an explicit
    * shuffle-hash hint (build the smaller-but-not-broadcastable side)
    * beats both defaults. */
  def qJoinHints(s: SparkSession, dir: String): DataFrame =
    joinHinted(s, dir, "shuffle_hash")

  /** RANGE-frame window — the VALUE-based frame beside the catalog's ROWS
    * frames, and semantically different exactly where it matters: a
    * customer's trailing-7-day spend must include every order in the day
    * window regardless of how many rows share a day (a ROWS frame would
    * cut same-day ties arbitrarily; RANGE frames are tie-complete by
    * definition, which also makes them deterministic WITHOUT a unique
    * tie-break column). Day offsets and money stay exact integers. One
    * window sort per customer partition. */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("order_day"))
      .rangeBetween(-6, 0)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("order_day"),
        expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
          .as("price_e4"))
      .withColumn("spend_7d_e4", sum(col("price_e4")).over(w))
      .withColumn("n_7d", count(lit(1)).over(w))
  }

  /** Rollup: subtotals + grand total over two grouping columns. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** CUBE: all 2² grouping-set combinations in one pass (Catalyst expands to
    * a single Expand + aggregate — one shuffle, not four). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** GROUPING SETS: per-dimension subtotals only — the grouping-set shapes
    * rollup/cube cannot express (no cross combination, no grand total).
    * Same single Expand + one-shuffle plan as cube. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Correlated scalar subquery: parts priced above their brand's average.
    * The inner avg uses the DECIMAL-sum discipline (money-magnitude doubles
    * are order-dependent) so both engines compare against the identical
    * double. Spark decorrelates this into an aggregate + join — asserted
    * no-cartesian via the PlanSpec family's standard checks. */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    t(fork, dir, "part").createOrReplaceTempView("part_ss")
    fork.sql("""
      SELECT p_partkey, p_brand, p_retailprice FROM part_ss p
      WHERE p_retailprice > (
        SELECT CAST(round(sum(CAST(p2.p_retailprice AS DECIMAL(18,4))), 4) AS DOUBLE)
               / count(*)
        FROM part_ss p2 WHERE p2.p_brand = p.p_brand)""")
  }

  /** Keyset-stable pagination: ORDER BY a unique key + LIMIT/OFFSET —
    * deterministic page contents in both engines. (At 100 TB prefer keyset
    * pagination — `WHERE key > last_seen LIMIT n` — OFFSET still scans and
    * discards the skipped prefix; this entry pins the SQL surface,
    * [[qPaginateKeyset]] is the scale form.) */
  def qPaginate(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    t(fork, dir, "orders").createOrReplaceTempView("orders_pg")
    fork.sql("""
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders_pg
      ORDER BY o_orderkey LIMIT 50 OFFSET 100""")
  }

  /** KEYSET pagination — the deep-pagination form that scales: resume after
    * the cursor `(last_date, last_key)` with the decomposed row-value
    * predicate `date > D OR (date = D AND key > K)`, then `ORDER BY ...
    * LIMIT n`. The predicate reaches the parquet scan as a pushed filter
    * (PlanSpec-asserted), so page N+1 reads only row groups past the
    * cursor's min/max range instead of sorting and discarding N pages —
    * OFFSET's cost grows with page depth, keyset's doesn't. */
  val KeysetLastDate = "1995-06-15"
  val KeysetLastKey = 1000L
  def qPaginateKeyset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(col("o_orderdate") > lit(KeysetLastDate) ||
        (col("o_orderdate") === lit(KeysetLastDate) && col("o_orderkey") > KeysetLastKey))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .limit(50)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))

  /** SCD-2 history building — turn an event log into a slowly-changing
    * dimension: per customer, collapse consecutive orders with the same
    * status into validity intervals `[valid_from, valid_to)`, the open
    * current interval ending NULL. Change-point detection is one `lag`
    * window, interval closing one `lead` — two passes over ONE shuffle
    * (same partitioning, Spark reuses the exchange). Ties at the same
    * date break by order key, so the history is total-order deterministic. */
  def qScd2History(s: SparkSession, dir: String): DataFrame = {
    val byCust = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(byCust))
      .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(byCust))
      .select(col("o_custkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"))
  }

  /** Data-quality PROFILING in one pass: null counts, exact distinct
    * counts, min/max for every numeric measure of lineitem — computed as a
    * single aggregate over ONE scan (16 agg expressions, map-side
    * combined), then reshaped row-per-column with `stack`. The profile a
    * pipeline runs before trusting a new drop of data; at 100 TB the
    * one-scan shape is the point (a per-column loop would read the table
    * once per column).
    *
    * Scale note — the exact-vs-approx swap: four exact `countDistinct` in
    * one aggregate make Catalyst Expand the scan 4× (the priciest
    * non-streaming catalog entry at ~1.5 s, still linear and
    * shuffle-parallel). Exactness is what the hash gate needs; a 100 TB
    * profiling run would swap `countDistinct` → `approx_count_distinct`
    * (HLL — no Expand, one pass, merges map-side), the path this catalog
    * already proves under an error-envelope spec in `q_approx_distinct`. */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      min(col(c)).as(s"mn_$c"),
      max(col(c)).as(s"mx_$c")))
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      .selectExpr("n",
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_v, max_v)")
  }

  /** Snapshot MERGE (upsert) through [[graft.operators.Upsert]]: yesterday's
    * snapshot (orders with key % 3 != 0) merged with today's delta (every
    * key % 5 == 0 order re-statused 'U' — overlapping keys are UPDATES,
    * the rest INSERTS). One broadcast anti join + union — the snapshot
    * never shuffles, which is the whole point of the shape at 100 TB. */
  def qUpsertSnapshot(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val snapshot = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
    val delta = orders.where(pmod(col("o_orderkey"), lit(5)) === 0)
      .withColumn("o_orderstatus", lit("U"))
    graft.operators.Upsert(snapshot, delta, Seq("o_orderkey"))
  }

  /** Deterministic stratified sample: per-class keep rates applied via the
    * salted content hash — a pure function of row identity, so the sample is
    * reproducible across runs, engines and partitionings (the class-balance
    * primitive of training-data pipelines). */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("l_returnflag") === "A", 100)
      .when(col("l_returnflag") === "R", 200).otherwise(50) // per-mille
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        graft.functions.VectorSql.md5Hash60(concat(lit("strat:"),
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))).as("h"), rate.as("rate"))
      .where(col("h") % 1000 < col("rate"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
  }

  /** Statistics functions: exact interpolated percentiles + correlation +
    * sample covariance per return flag. Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition over exact
    * sorted doubles. */
  def qStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_cov"))

  /** Date arithmetic: shipping delay (days between order and ship date) per
    * order priority — integer datediff, exact in both engines. */
  def qShipDelay(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(avg(datediff(col("l_shipdate"), col("o_orderdate"))), 4).as("avg_delay_days"))
  }

  /** Pivot: quantity sums per line status × return flag (exact-integer
    * doubles, so no rounding discipline needed). */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .sum("l_quantity")
      .select(col("l_linestatus"), col("A").as("qty_a"), col("N").as("qty_n"),
        col("R").as("qty_r"))

  /** Unpivot (melt) — the inverse reshape of [[qPivot]]: the wide
    * flag-per-column table folds back to (linestatus, flag, qty) rows via
    * `stack` (Spark's unpivot primitive; DuckDB spells it UNPIVOT). Null
    * cells are dropped by both engines' unpivot semantics. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    qPivot(s, dir).select(col("l_linestatus"),
      expr("stack(3, 'A', qty_a, 'N', qty_n, 'R', qty_r) AS (flag, qty)"))
      .where(col("qty").isNotNull)

  /** Anti join: parts that never shipped in high-quantity lines. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val hi = t(s, dir, "lineitem").where(col("l_quantity") >= 48).select(col("l_partkey"))
    t(s, dir, "part").join(hi, col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_brand"))
  }

  /** NOT IN subquery through the SQL parser — the NULL-AWARE anti-join form
    * (distinct from `q_anti_join`'s NOT EXISTS: one NULL in the subquery
    * legally empties a NOT IN result, so Catalyst must plan
    * null-aware semantics, not a plain anti join). */
  def qNotIn(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    t(fork, dir, "part").createOrReplaceTempView("graft_part")
    t(fork, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    fork.sql("""
      SELECT p_partkey, p_brand FROM graft_part
      WHERE p_partkey NOT IN
        (SELECT l_partkey FROM graft_lineitem WHERE l_quantity >= 48)
    """)
  }

  /** Semi join: suppliers with at least one deep-discount line. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val disc = t(s, dir, "lineitem").where(col("l_discount") > 0.09).select(col("l_suppkey"))
    t(s, dir, "supplier").join(disc, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** Window NAVIGATION functions (the family `q_window_rank`'s ranking row
    * doesn't cover): per customer order timeline — days since the previous
    * order (lag), the next order's date (lead), the first order date
    * (first_value over the running frame), and a price quartile (ntile).
    * All integer/date arithmetic — no float discipline needed. Ties broken
    * by o_orderkey in every window so both engines pick identical rows. */
  def qWindowNav(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
      datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate))
        .as("days_since_prev"),
      date_format(lead(col("o_orderdate"), 1).over(byDate), "yyyy-MM-dd").as("next_date"),
      date_format(first_value(col("o_orderdate")).over(byDate), "yyyy-MM-dd").as("first_date"),
      ntile(4).over(byPrice).as("price_quartile"))
  }

  /** LATERAL correlated subquery through the SQL parser: top-2 customers by
    * account balance per nation — the classic per-row dependent subselect in
    * FROM position (Catalyst decorrelates to a ranked window under the
    * hood; DuckDB executes the same SQL shape natively). */
  def qLateralTopn(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    t(fork, dir, "nation").createOrReplaceTempView("graft_nation")
    t(fork, dir, "customer").createOrReplaceTempView("graft_customer")
    fork.sql("""
      SELECT n.n_name, top.c_name, top.c_acctbal
      FROM graft_nation n,
      LATERAL (SELECT c_name, c_acctbal FROM graft_customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top
    """)
  }

  /** Conditional aggregation (FILTER/CASE family): per order priority —
    * count over a predicate, a status-restricted DECIMAL sum, and a
    * predicate share. The share is exact-integer division (count/count) so
    * round(6) is cross-engine stable. */
  def qConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
        round(sum(when(col("o_orderstatus") === "F",
            col("o_totalprice").cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double"), 2).as("f_total"),
        round(count(when(col("o_totalprice") > 200000, 1)).cast("double") /
          count(lit(1)), 6).as("big_share"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_nav" -> qWindowNav _,
    "q_lateral_topn" -> qLateralTopn _,
    "q_conditional_agg" -> qConditionalAgg _,
    "q_not_in" -> qNotIn _,
    "q_unpivot" -> qUnpivot _,
    "q_anti_join" -> qAntiJoin _,
    "q_semi_join" -> qSemiJoin _,
    "q_pivot" -> qPivot _,
    "q_stats" -> qStats _,
    "q_ship_delay" -> qShipDelay _,
    "q1_pricing" -> q1Pricing _,
    "q3_top_revenue" -> q3TopRevenue _,
    "q5_nation_revenue" -> q5NationRevenue _,
    "q_window_rank" -> qWindowRank _,
    "q_top20" -> qTop20 _,
    "q_set_intersect" -> qSetIntersect _,
    "q_set_except" -> qSetExcept _,
    "q_distinct_having" -> qDistinctHaving _,
    "q_monthly" -> qMonthly _,
    "q_incr_rollup" -> qIncrRollup _,
    "q_mv_rewrite" -> qMvRewrite _,
    "mv_refresh_stream" -> mvRefreshStream _,
    "mv_refresh_cdf" -> mvRefreshCdf _,
    "mv_refresh_cdf_stream" -> mvRefreshCdfStream _,
    "q_range_frame" -> qRangeFrame _,
    "q_join_hints" -> qJoinHints _,
    "q_mv_rewrite_coarse" -> qMvRewriteCoarse _,
    "priv_k_anon" -> qPrivKAnon _,
    "priv_l_diversity" -> qPrivLDiversity _,
    "priv_t_closeness" -> qPrivTCloseness _,
    "priv_rand_response" -> qPrivRandResponse _,
    "priv_dp_counts" -> qPrivDpCounts _,
    "q_rollup" -> qRollup _,
    "q_cube" -> qCube _,
    "q_grouping_sets" -> qGroupingSets _,
    "q_scalar_subquery" -> qScalarSubquery _,
    "q_paginate" -> qPaginate _,
    "q_paginate_keyset" -> qPaginateKeyset _,
    "q_upsert_snapshot" -> qUpsertSnapshot _,
    "q_profile" -> qProfile _,
    "q_scd2_history" -> qScd2History _,
    "q_stratified_sample" -> qStratifiedSample _,
  )

  /** Shared by `q_mv_rewrite` and `mv_refresh_stream`: the full fact
    * recompute both MV paths must be indistinguishable from. */
  private val monthlyMvOracle =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month, l_returnflag,
      | CAST(count(*) AS BIGINT) AS n_items,
      | round(sum(l_quantity), 2) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000
      |   AS BIGINT) AS revenue_e4
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // the POST-CHANGE rollup recomputed relationally: the q_mv_rewrite
  // oracle shape over the three commits' change formulas (stripe =
  // l_orderkey mod 40: 1 = qty doubled, 2 = deleted, 3 = re-inserted
  // under shifted keys, 4 = rev + 0.01) — the maintained MV must be
  // indistinguishable from this recompute
  private val mvCdfOracle: String =
    """WITH li AS (SELECT (l_orderkey * 8 + l_linenumber) // 8 % 40 AS stripe,
      |    min(strftime(l_shipdate, '%Y-%m')) AS month,
      |    min(l_returnflag) AS l_returnflag,
      |    min(l_quantity) AS l_quantity,
      |    min(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem GROUP BY l_orderkey * 8 + l_linenumber),
      |fin AS (
      |  SELECT month, l_returnflag,
      |    CASE WHEN stripe = 1 THEN l_quantity * 2 ELSE l_quantity END AS l_quantity,
      |    CASE WHEN stripe = 4 THEN CAST(rev + 0.01 AS DECIMAL(18,4)) ELSE rev END AS rev
      |  FROM li WHERE stripe <> 2
      |  UNION ALL
      |  SELECT month, l_returnflag, l_quantity, rev FROM li WHERE stripe = 3)
      |SELECT month, l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(sum(rev) * 10000 AS BIGINT) AS revenue_e4
      |FROM fin GROUP BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_window_nav" ->
      """SELECT o_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | CAST(date_diff('day',
        |   lag(o_orderdate) OVER wd, o_orderdate) AS INT) AS days_since_prev,
        | strftime(lead(o_orderdate) OVER wd, '%Y-%m-%d') AS next_date,
        | strftime(first_value(o_orderdate) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), '%Y-%m-%d') AS first_date,
        | CAST(ntile(4) OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_quartile
        |FROM orders
        |WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_lateral_topn" ->
      """SELECT n.n_name, top.c_name, top.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top""".stripMargin,
    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
        | round(CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice
        |   ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE), 2) AS f_total,
        | round(count(*) FILTER (WHERE o_totalprice > 200000) * 1.0 / count(*), 6)
        |   AS big_share
        |FROM orders GROUP BY 1""".stripMargin,
    "q_not_in" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE p_partkey NOT IN
        |  (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)""".stripMargin,
    "q_anti_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 48)""".stripMargin,
    "q_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND l_discount > 0.09)""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag,
        | round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
        | round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
        | round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4) AS p75,
        | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_ship_delay" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | round(avg(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))), 4)
        |   AS avg_delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        | sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        | sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        | sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
        |FROM lineitem GROUP BY 1""".stripMargin,
    // melt the pivoted table back to rows; the flag labels 'A'/'N'/'R'
    // mirror the stack() literals, null cells dropped on both sides
    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT l_linestatus,
        |   sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        |   sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        |   sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
        |  FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, flag, qty FROM (
        |  SELECT l_linestatus, 'A' AS flag, qty_a AS qty FROM wide
        |  UNION ALL SELECT l_linestatus, 'N', qty_n FROM wide
        |  UNION ALL SELECT l_linestatus, 'R', qty_r FROM wide)
        |WHERE qty IS NOT NULL""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
        | round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey,
        | round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        | round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(row_number() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "q_top20" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "q_distinct_having" ->
      """SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        |FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 3""".stripMargin,
    "q_monthly" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        | CAST(count(*) AS BIGINT) AS n,
        | round(CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END
        |   AS DECIMAL(18,4))) AS DOUBLE), 2) AS discounted_sales
        |FROM lineitem GROUP BY 1""".stripMargin,
    "priv_k_anon" ->
      s"""SELECT CAST(c_nationkey AS INT) AS nation, c_mktsegment AS segment,
         | CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
         | CAST(count(*) AS BIGINT) AS cohort_n,
         | min(c_custkey) AS min_key, max(c_custkey) AS max_key
         |FROM customer GROUP BY 1, 2, 3
         |HAVING count(*) < ${RelationalQueries.KAnon}""".stripMargin,
    "priv_l_diversity" ->
      s"""WITH s AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
         |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band, count(*) AS n
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT CAST(nation AS INT) AS nation, segment,
         |  CAST(sum(n) AS BIGINT) AS cohort_n,
         |  CAST(count(*) AS BIGINT) AS n_sensitive,
         |  CAST(max(n) AS BIGINT) AS max_sens_n,
         |  CAST(count(*) >= ${RelationalQueries.LDiv} AS INT) AS l_ok
         |FROM s GROUP BY 1, 2""".stripMargin,
    // the same cross-multiplied total-variation integers: tv_num =
    // Σ_s |n_gs·N − n_s·n_g| over the FULL band grid (absent bands kept by
    // the left join), t = ½ flagged by the pure-integer tv_num ≤ n_g·N
    "priv_t_closeness" ->
      """WITH b AS (SELECT CAST(c_nationkey AS INT) AS nation,
        |    c_mktsegment AS segment,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band FROM customer),
        |gs AS (SELECT nation, segment, band, count(*) AS n_gs FROM b GROUP BY 1, 2, 3),
        |g AS (SELECT nation, segment, sum(n_gs) AS n_g FROM gs GROUP BY 1, 2),
        |sg AS (SELECT band, sum(n_gs) AS n_s FROM gs GROUP BY 1),
        |tot AS (SELECT sum(n_s) AS n_tot FROM sg),
        |j AS (SELECT g.nation, g.segment, g.n_g, sg.n_s, tot.n_tot,
        |    COALESCE(gs.n_gs, 0) AS n_gs
        |  FROM g CROSS JOIN sg CROSS JOIN tot
        |  LEFT JOIN gs ON gs.nation = g.nation AND gs.segment = g.segment
        |    AND gs.band = sg.band)
        |SELECT nation, segment, CAST(max(n_g) AS BIGINT) AS cohort_n,
        |  CAST(sum(abs(n_gs * n_tot - n_s * n_g)) AS BIGINT) AS tv_num,
        |  CAST(max(n_g * n_tot) AS BIGINT) AS tv_den_half,
        |  CAST(sum(abs(n_gs * n_tot - n_s * n_g)) <= max(n_g * n_tot) AS INT) AS t_ok
        |FROM j GROUP BY 1, 2""".stripMargin,
    // the flips replayed literally from the same per-key md5 coin; the
    // estimator stays in exact half-units (est_half = 4·obs − n)
    "priv_rand_response" ->
      s"""WITH c AS (SELECT CAST(c_nationkey AS INT) AS nation,
         |    CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS b,
         |    CAST(('0x' || substr(md5('rr:' || c_custkey), 1, 15))::BIGINT % 4
         |      < ${RelationalQueries.RrKeep} AS BIGINT) AS keep
         |  FROM customer)
         |SELECT nation, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(b) AS BIGINT) AS true_n,
         |  CAST(sum(keep * b + (1 - keep) * (1 - b)) AS BIGINT) AS obs,
         |  4 * CAST(sum(keep * b + (1 - keep) * (1 - b)) AS BIGINT)
         |    - CAST(count(*) AS BIGINT) AS est_half
         |FROM c GROUP BY 1""".stripMargin,
    // the identical seeded coin and power-of-two inverse-CDF bands — the
    // noise replays literally (the DP-release testing discipline)
    "priv_dp_counts" ->
      """WITH g AS (SELECT CAST(c_nationkey AS INT) AS nation,
        |    CAST(count(*) AS BIGINT) AS true_n FROM customer GROUP BY 1),
        |coin AS (SELECT nation, true_n,
        |    3 * ('0x' || substr(md5('dp:' || nation), 1, 15))::BIGINT AS t
        |  FROM g),
        |bands AS (SELECT CAST(k AS INT) AS k,
        |    CASE WHEN k = -60 THEN 0
        |         WHEN k <= -1 THEN (1::BIGINT << least(greatest(k + 60, 0), 62))
        |         ELSE 3 * (1::BIGINT << 60)
        |           - (1::BIGINT << least(greatest(61 - k, 0), 62)) END AS lo,
        |    CASE WHEN k <= -1 THEN (1::BIGINT << least(greatest(k + 61, 0), 62))
        |         WHEN k <= 59 THEN 3 * (1::BIGINT << 60)
        |           - (1::BIGINT << least(greatest(60 - k, 0), 62))
        |         ELSE (1::BIGINT << 62) END AS hi
        |  FROM (SELECT unnest(range(-60, 61)) AS k))
        |SELECT nation, true_n, b.k AS noise,
        |  CAST(true_n + b.k AS BIGINT) AS released
        |FROM coin JOIN bands b ON t >= lo AND t < hi""".stripMargin,
    // the full recompute — the incremental merge must be result-invisible
    "q_incr_rollup" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, l_returnflag,
        | CAST(count(*) AS BIGINT) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000
        |   AS BIGINT) AS revenue_e4,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000
        |   AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_item_e4
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    // the full fact recompute the automatic MV rewrite must be invisible to
    "q_mv_rewrite" -> monthlyMvOracle,
    // the streamed partial-append MV re-aggregates to the same full
    // recompute, so the oracle is shared verbatim
    "mv_refresh_stream" -> monthlyMvOracle,
    "mv_refresh_cdf" -> mvCdfOracle,
    // one maintenance contract, two consumption surfaces: the streaming-
    // source maintainer must be indistinguishable from the same recompute
    "mv_refresh_cdf_stream" -> mvCdfOracle,
    "q_mv_rewrite_coarse" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        | CAST(count(*) AS BIGINT) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000
        |   AS BIGINT) AS revenue_e4
        |FROM lineitem GROUP BY 1""".stripMargin,
    // hints choose the algorithm, never the answer — the plain join
    "q_join_hints" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000
        |   AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // identical integer RANGE frame; sums CAST from DuckDB's hugeint
    "q_range_frame" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, order_day, price_e4,
        |  CAST(sum(price_e4) OVER w AS BIGINT) AS spend_7d_e4,
        |  CAST(count(*) OVER w AS BIGINT) AS n_7d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part p
        |WHERE p_retailprice > (
        |  SELECT CAST(round(sum(CAST(p2.p_retailprice AS DECIMAL(18,4))), 4) AS DOUBLE)
        |         / count(*)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin,
    "q_paginate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    // the second window reuses the first's partitioning; lag/lead chain is
    // the standard gaps-and-islands SCD2 build in both engines
    "q_scd2_history" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |c AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM w
        |  WHERE prev IS NULL OR prev != o_orderstatus)
        |SELECT o_custkey, o_orderstatus,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d') AS valid_to
        |FROM c""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggSel = cols.map(c =>
        s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c,
           | CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c,
           | min($c) AS mn_$c, max($c) AS mx_$c""".stripMargin).mkString(",\n ")
      val rows = cols.map(c =>
        s"SELECT n, '$c' AS col_name, nn_$c AS n_nulls, nd_$c AS n_distinct, " +
          s"mn_$c AS min_v, mx_$c AS max_v FROM a").mkString("\nUNION ALL ")
      s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         | $aggSel
         |FROM lineitem)
         |$rows""".stripMargin
    },
    "q_upsert_snapshot" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 != 0),
        |delta AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus FROM orders
        |  WHERE o_orderkey % 5 = 0)
        |SELECT s.* FROM snap s
        |WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = s.o_orderkey)
        |UNION ALL SELECT * FROM delta""".stripMargin,
    "q_paginate_keyset" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |  o_orderkey, o_custkey, o_orderstatus
         |FROM orders
         |WHERE o_orderdate > DATE '$KeysetLastDate'
         |   OR (o_orderdate = DATE '$KeysetLastDate' AND o_orderkey > $KeysetLastKey)
         |ORDER BY o_orderdate, o_orderkey LIMIT 50""".stripMargin,
    "q_stratified_sample" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    ('0x' || substr(md5('strat:' || l_orderkey || ':' || l_linenumber), 1, 15))::BIGINT AS h,
        |    CASE WHEN l_returnflag = 'A' THEN 100
        |         WHEN l_returnflag = 'R' THEN 200 ELSE 50 END AS rate
        |  FROM lineitem)
        |WHERE h % 1000 < rate""".stripMargin,
  )
}
