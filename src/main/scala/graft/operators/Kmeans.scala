package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HalfUp
import graft.functions.VectorSql._

/** Trained Lloyd k-means coarse quantizer for the IVF serving family.
  *
  * The alternative to the data-sampled heuristic (first-K corpus rows as
  * centroids) the `ann_ivf*` entries serve from: K-means assigns vectors
  * to cells that reflect the corpus DISTRIBUTION, so cell populations
  * balance and — when the corpus HAS cluster structure — a probe's
  * `nprobe` cells capture more true neighbors per scanned row. (On the
  * catalog's direction-random embeddings the measurement said the serving
  * entries should stay heuristic; the numbers and the clustered
  * counter-case live on [[graft.queries.SimilarityQueries]]'s
  * `kmCentroids` note and in KmeansSpec.) The reference's
  * iterative-refinement shape is its SOM training loop (reference
  * `som/SOM.scala:192-244`); Lloyd is the degenerate neighborhood-of-one
  * case, so the whole oracle discipline of `som_fit5` transfers verbatim:
  *
  *  - deterministic warm start: the first `k` corpus rows (by id),
  *    4-decimal-quantized — no sampling anywhere;
  *  - every iterate is QUANTIZED (component sums rounded to 6 decimals,
  *    means to 4) so a DuckDB CTE chain replays the whole fit
  *    hash-identically — the fit itself sits under the oracle gate, not
  *    just the serving that consumes it;
  *  - assignment metric is either squared euclidean (classic IVF) or
  *    cosine (SPHERICAL k-means — the correct quantizer for a cosine
  *    serving metric; see the measured straggler analysis on
  *    [[Similarity.ivfTopKSpill]]).
  *
  * Scale shape (100 TB stance): per iteration ONE corpus scan — broadcast
  * K-row centroid table, map-side `min(struct(metric, cell))` argmin that
  * collapses the K·N join rows to N before any exchange, then a K-row
  * vector-sum aggregate (`Summarizer.sum`, partials combine map-side).
  * The driver holds only K×d doubles between iterations (the SOM-fit
  * discipline); nothing data-scale is ever collected. Iteration count is
  * fixed and small — a coarse quantizer needs balance, not convergence.
  */
object Kmeans {

  /** Deterministic MAXIMIN (Gonzalez farthest-point) seeding — the
    * k-means++ job without its RNG: seed 0 is the minimum-id row; each
    * next seed is the point FARTHEST from the chosen set (max over points
    * of min over seeds of the metric; min-id tie-break). Immune to the
    * first-K failure mode where corpus order puts every seed inside one
    * cluster (KmeansSpec plants exactly that corpus), and fully
    * oracle-replayable — distances are the shared left-to-right folds,
    * the selection is an exact min/argmax. k-1 bounded scans, each a
    * broadcast of ≤k seed rows; a 100 TB run seeds from a sample the same
    * way. Returns seed row ids IN SELECTION ORDER (= cell numbering). */
  def maximinSeeds(points: DataFrame, k: Int, spherical: Boolean): Array[Long] = {
    val first = points.select(min(col("vec_id"))).head().getLong(0)
    val ids = scala.collection.mutable.ArrayBuffer(first)
    while (ids.length < k) {
      val spark = points.sparkSession
      import spark.implicits._
      val seeds = points.where(col("vec_id").isin(ids.toSeq: _*))
        .select(col("v").as("sv"))
      // per point: worst-case proximity to the chosen set; farthest wins
      val prox =
        if (spherical) max(dotFast(col("v"), col("sv"))
          / (norm2Fast(col("v")) * norm2Fast(col("sv"))))
        else min(sqDistFast(col("v"), col("sv")))
      // already-chosen seeds are excluded from the candidate set: on a
      // degenerate corpus where every remaining point ties at the
      // worst-case proximity (exact-duplicate vectors), the min-id
      // tie-break could otherwise re-select a seed and emit duplicate
      // centroids. The oracle's kmd CTE carries the same NOT IN.
      val next = points.where(!col("vec_id").isin(ids.toSeq: _*))
        .crossJoin(broadcast(seeds))
        .groupBy(col("vec_id")).agg(prox.as("prox"))
        .orderBy(if (spherical) col("prox").asc else col("prox").desc,
          col("vec_id").asc)
        .limit(1).head().getLong(0)
      ids += next
    }
    ids.toArray
  }

  /** [[maximinSeeds]] over a DETERMINISTIC HASH-SAMPLE of the corpus —
    * the 100 TB seeding path the full-corpus variant's scaladoc promises
    * (r9 verdict #4): each of the k−1 selection scans reads only the
    * `ratePpm`-per-million sample (the `ml_weighted_sample` md5 keep-rule,
    * salt `"mx:"`), so seeding cost is k·sample-sized instead of
    * k·corpus-sized while the seeds stay actual corpus rows, deterministic,
    * and oracle-replayable (the sample predicate is one portable md5
    * expression — `km_fit_sampled` replays filter + seeding + Lloyd).
    * Spread degrades gracefully: maximin over a uniform sample still
    * separates direction regions whenever each region keeps ≥1 sampled row
    * (KmeansSpec asserts cluster coverage at 50% sampling, and identity
    * with the full-corpus seeds at ratePpm = 1e6, where the predicate
    * keeps everything). */
  def maximinSeedsSampled(points: DataFrame, k: Int, spherical: Boolean,
                          ratePpm: Long): Array[Long] = {
    // rate 1e6 keeps every row, so the sampling machinery (per-row md5
    // filter, eager corpus-sized checkpoint, count) would be pure
    // overhead for an identical result — take the full-corpus path the
    // seeds are defined to equal (KmeansSpec pins the identity). This is
    // km_fit's default path; the r10→r11 bench adjudication measured the
    // machinery at ~2 extra jobs per fit.
    if (ratePpm >= 1000000L) return maximinSeeds(points, k, spherical)
    // materialize the sample ONCE: the k−1 selection scans otherwise each
    // re-read the source and re-evaluate the md5 keep-rule. The sample is
    // bounded by design (a 100 TB run passes a ppm-scale rate), so the
    // checkpoint is seed-pool-sized, never corpus-sized.
    val sample = seedSample(points, ratePpm)
      .select(col("vec_id"), col("v")).localCheckpoint(eager = true)
    // guard the degenerate pool (low ratePpm × small corpus): without it,
    // maximinSeeds' seed-excluding argmax runs out of candidates and dies
    // in an opaque empty-head. The count is free on the checkpoint.
    val n = sample.count()
    require(n >= k,
      s"seed sample has $n rows but k=$k seeds were requested — " +
        s"raise ratePpm ($ratePpm/1e6 keep rate) or seed from the full corpus")
    maximinSeeds(sample, k, spherical)
  }

  /** The shared keep-rule: md5-derived per-id uniform in [0, 1e6). */
  def seedSample(points: DataFrame, ratePpm: Long): DataFrame =
    points.where(graft.functions.VectorSql.md5Hash60(
      concat(lit("mx:"), col("vec_id").cast("string"))) % 1000000L < ratePpm)

  /** Fixed-iteration Lloyd fit. `points`: (vec_id, v: array<double>).
    * Initial centroids = the [[maximinSeeds]] rows (or rows vec_id < k
    * when `firstKSeeds` — the data-sampled heuristic, kept for controlled
    * comparison and for corpora where ingest order is known-shuffled),
    * round(4)-quantized. Returns k × d centroid components in cell order. An
    * iteration that empties a cell carries the cell's previous centroid
    * forward (no respawn heuristics — deterministic and oracle-replayable
    * as a LEFT JOIN + COALESCE). */
  def fitLloyd(points: DataFrame, k: Int, iters: Int, spherical: Boolean,
               firstKSeeds: Boolean = false,
               seedRatePpm: Long = 1000000L): Array[Array[Double]] = {
    val spark = points.sparkSession
    import spark.implicits._
    var protos: Array[Array[Double]] =
      if (firstKSeeds)
        points.where(col("vec_id") < k).orderBy("vec_id").collect()
          .map(_.getAs[Seq[Double]]("v").toArray.map(HalfUp.round(4)))
      else {
        val seedIds = maximinSeedsSampled(points, k, spherical, seedRatePpm)
        val byId = points.where(col("vec_id").isin(seedIds.toSeq: _*)).collect()
          .map(r => r.getLong(0) -> r.getAs[Seq[Double]]("v").toArray.map(HalfUp.round(4))).toMap
        seedIds.map(byId)
      }
    require(protos.length == k, s"need $k seed rows, got ${protos.length}")
    for (_ <- 0 until iters) {
      val protoDF = protos.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cell", "c")
      // negated cosine so both metrics take the same ascending
      // min(struct(m, cell)) — identical ordering to the oracle's
      // `ORDER BY cos DESC, cell` (strictly monotone negation)
      val m =
        if (spherical) -(dotFast(col("v"), col("c"))
          / (norm2Fast(col("v")) * norm2Fast(col("c"))))
        else sqDistFast(col("v"), col("c"))
      val assign = points.crossJoin(broadcast(protoDF))
        .select(col("vec_id"), col("v"), m.as("m"), col("cell"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("m"), col("cell"))).as("mm"), first(col("v")).as("v"))
        .select(col("mm.cell").as("cell"), col("v"))
      // the som_fit5 vector-shaped aggregate: N in-place vector adds, K-row
      // shuffle, K×d explode AFTER the agg; round(·,6) pins the
      // order-dependent component sums cross-engine, round(·,4) the mean
      val sums = assign
        .select(col("cell"),
          org.apache.spark.ml.functions.array_to_vector(col("v")).as("fv"))
        .groupBy(col("cell"))
        .agg(org.apache.spark.ml.stat.Summarizer.sum(col("fv")).as("sv"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("n"),
          posexplode(org.apache.spark.ml.functions.vector_to_array(col("sv")))
            .as(Seq("dim", "x")))
        .select(col("cell"), col("dim"),
          round(round(col("x"), 6) / col("n"), 4).as("nv"))
        .collect()
      val next = protos.map(_.clone()) // empty-cell carryover
      sums.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2))
      protos = next
    }
    protos
  }

  /** The fitted quantizer as a (cell: long, c: array<double>) DataFrame —
    * the shape [[Similarity.ivfTopK]]/[[Similarity.ivfTopKSpill]] broadcast.
    * Shared through [[Artifacts]] so the five serving entries that consume
    * one quantizer pay the fit once per session (production trains once and
    * publishes the centroid table; this is that boundary). */
  def centroids(spark: SparkSession, points: => DataFrame, k: Int, iters: Int,
                spherical: Boolean, shareKey: String,
                seedRatePpm: Long = 1000000L): DataFrame =
    Artifacts.shared(s"kmeans:$shareKey:$k:$iters:$spherical:$seedRatePpm") {
      import spark.implicits._
      fitLloyd(points, k, iters, spherical, firstKSeeds = false,
        seedRatePpm = seedRatePpm).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cell", "c")
    }

  /** TRAINED per-subspace PQ codebooks — [[fitLloyd]] generalized with a
    * subspace grouping column, so ALL `d/subDims` subspace quantizers
    * train in ONE corpus scan per iteration (not d/subDims separate
    * fits — the 100 TB shape: broadcast (sub, code) table, map-side
    * argmin per (vec_id, sub), one (sub·codes)-row vector-sum aggregate).
    * Warm start is the data-sampled heuristic codebook itself (subvectors
    * of the first `numCodes` corpus rows, raw parquet doubles), so
    * "trained" is literally "the heuristic + `iters` quantized Lloyd
    * steps" and a measured comparison isolates what training buys. The
    * som_fit5/km_fit float discipline applies verbatim (sums rounded to
    * 6, means to 4, empty codes carry forward), so a DuckDB CTE chain
    * replays the whole fit hash-identically. Returns
    * `[numCodes][dim]` rows assembled back to full-dim pseudo-rows —
    * exactly the `cb` shape [[Similarity.pqCodes]]/[[Similarity.pqRecon]]
    * consume, code j's subspace-s slice = trained code j of subspace s.
    * The only driver state is the codes themselves (numCodes×d doubles);
    * the collects are code-table-sized, never data-scale. */
  def fitLloydPq(points: DataFrame, numCodes: Int, subDims: Int,
                 iters: Int): Array[Array[Double]] = {
    val spark = points.sparkSession
    import spark.implicits._
    val dim = points.select(col("v")).head().getSeq[Double](0).length
    val nSub = dim / subDims
    // warm start: the heuristic codebook's rows, sliced per subspace
    var codes: Array[Array[Array[Double]]] = {
      val seed = points.where(col("vec_id") < numCodes).orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toArray)
      require(seed.length == numCodes,
        s"need $numCodes seed rows, got ${seed.length}")
      Array.tabulate(nSub, numCodes) { (s, j) =>
        seed(j).slice(s * subDims, (s + 1) * subDims)
      }
    }
    // full-dim pseudo-row view of the current codes — the cb shape the
    // codegen PqEncode kernel consumes (code j's subspace-s slice = code
    // (s, j))
    def cbView: Array[Array[Double]] = Array.tabulate(numCodes) { j =>
      (0 until nSub).flatMap(s => codes(s)(j)).toArray
    }
    for (_ <- 0 until iters) {
      // ASSIGNMENT AS ONE IN-SCAN CODEGEN KERNEL (r16 optimization round,
      // guide §1.2 "the distributed algorithm" + §4 "prefer built-in /
      // codegen expressions"): [[graft.functions.PqEncode]] computes every
      // subspace's argmin inside the scan — the same left-to-right sqdist
      // fold and the same strict-< first-minimum tie-break as the previous
      // join form (`min(struct(d2, code))` over `sqDistFast`), so the
      // assignment is bit-identical (the entry's DuckDB hash gate re-proves
      // it) — but the N·nSub·numCodes scored rows (65M at sf0.1) never
      // materialize: no broadcast join, no hash aggregate over them.
      // Measured on `pq_train`: 7.2 s → 2.0 s median at sf0.1.
      val assign = points.select(
          posexplode(graft.functions.PqExpressions.pqEncode(
            col("v"), cbView, subDims)).as(Seq("sub", "code")),
          col("v"))
        .select(col("sub"), col("code").cast("long").as("code"),
          slice(col("v"), col("sub") * lit(subDims) + lit(1), lit(subDims)).as("sv"))
      // EXACT integer sums over round(4)-quantized components: at 2048 codes ×
      // 8 dims × iters there are ~50k independent sums per fit, and the
      // km_fit float discipline (fp sum rounded to 6) measurably hits
      // rounding-boundary collisions at that count (8/16384 rows in the
      // first gate attempt) — integer sums are order-independent and
      // bit-identical in both engines by construction, no luck involved
      // ... and the MEAN is integer-rounded too (half away from zero in
      // integer arithmetic, then ONE exact fp division by 10⁴): a fp
      // `round(si/n·10⁻⁴, 4)` hits exact-half quotients whenever n | 2·si
      // — frequent with integer sums — and the engines' fp round paths
      // disagree exactly there (measured: 170/16384 rows in the second
      // gate attempt)
      val sums = assign
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg(sum(round(col("x") * 10000, 0).cast("long")).as("si"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("code"), col("dim"),
          (expr("case when si >= 0 then (2*si + n) div (2*n) " +
            "else -((2*(-si) + n) div (2*n)) end") / 10000.0).as("nv"))
        .collect()
      val next = codes.map(_.map(_.clone())) // empty-code carryover
      sums.foreach(r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3))
      codes = next
    }
    // reassemble to full-dim pseudo-rows (the pqCodes/pqRecon cb shape)
    cbView
  }
}
