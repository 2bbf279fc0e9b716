package graft.operators

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{BmuFold, HalfUp}
import graft.som.{Grid, SOM}

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
  *  - deterministic warm start: maximin seeds (or the first `k` corpus
  *    rows by id), 4-decimal-quantized — no sampling anywhere;
  *  - every iterate is QUANTIZED (component sums rounded to 6 decimals,
  *    means to 4) so a DuckDB CTE chain replays the whole fit
  *    hash-identically — the fit itself sits under the oracle gate, not
  *    just the serving that consumes it;
  *  - assignment metric is either squared euclidean (classic IVF) or
  *    cosine (SPHERICAL k-means — the correct quantizer for a cosine
  *    serving metric; see the measured straggler analysis on
  *    [[Similarity.ivfTopKSpill]]).
  *
  * Scale shape: the SOM kernel itself. The points are decoded once
  * ([[SOM.keyedPoints]]) and cached for the fit; every assignment and
  * seeding distance is [[BmuFold]] (squared L2, or [[BmuFold.cosine]]),
  * and each Lloyd iteration is [[SOM.cellStats]] + [[SOM.smooth]] under the
  * identity neighborhood — one `runJob` scan with no shuffle returning
  * numPartitions K×d partials, then the plain quantized mean on the
  * driver. Seeding is one scan per seed, each returning one candidate per
  * partition. A fit of `k` cells and `iters` iterations therefore runs
  * k + iters jobs over one cached RDD (12 for `km_fit`), and the driver
  * holds only K×d doubles between them; nothing data-scale is ever
  * collected. Iteration count is fixed and small — a coarse quantizer
  * needs balance, not convergence.
  */
object Kmeans {

  /** Deterministic MAXIMIN (Gonzalez farthest-point) seeding — the
    * k-means++ job without its RNG: seed 0 is the minimum-id row; each
    * next seed is the not-yet-chosen point FARTHEST from the chosen set
    * (max over points of min over seeds of the squared distance, or min
    * over points of max over seeds of the cosine; lower id on ties), so
    * exact-duplicate vectors never re-select a seed (the oracle's `NOT IN`).
    * Immune to the first-K failure mode where corpus order puts every seed
    * inside one cluster (KmeansSpec plants exactly that corpus), and fully
    * oracle-replayable: the distances are [[BmuFold]]'s left-to-right
    * folds, and NaN ranks as the relational form ranked it — a NaN squared
    * distance is never a point's minimum but an all-NaN point wins the
    * pick, while any NaN cosine makes a point's maximum NaN and loses it.
    * Cost: one decode, cached, then k scans whose tasks each return their
    * partition's farthest (distance, lowest id, vector). Returns seed row
    * ids IN SELECTION ORDER (= cell numbering). */
  def maximinSeeds(points: DataFrame, k: Int, spherical: Boolean): Array[Long] =
    maximinSeedsSampled(points, k, spherical, ratePpm = 1000000L)

  /** [[maximinSeeds]] over a DETERMINISTIC HASH-SAMPLE of the corpus —
    * the 100 TB seeding path (r9 verdict #4): the [[seedSample]] rule
    * (the `ml_weighted_sample` md5 keep-rule, salt `"mx:"`) is a per-row
    * flag in the one decode and the seeding scans skip unflagged rows, so
    * seeds are compared over k·sample points while staying actual corpus
    * rows, deterministic, and oracle-replayable (`km_fit_sampled` replays
    * filter + seeding + Lloyd). At ratePpm = 1e6 every row is kept and no
    * hash evaluated. A pool of fewer than `k` rows is rejected, its size
    * read off the first scan. Spread degrades gracefully: KmeansSpec
    * asserts cluster coverage at 50% sampling, and identity with the
    * full-corpus seeds when the sample keeps everything. */
  def maximinSeedsSampled(points: DataFrame, k: Int, spherical: Boolean,
                          ratePpm: Long): Array[Long] =
    withPoints(points, ratePpm)(seeds(_, k, spherical, ratePpm).map(_._1))

  /** The shared keep-rule: md5-derived per-id uniform in [0, 1e6). */
  def seedSample(points: DataFrame, ratePpm: Long): DataFrame = points.where(keepRule(ratePpm))

  private def keepRule(ratePpm: Long): Column =
    graft.functions.VectorSql.md5Hash60(
      concat(lit("mx:"), col("vec_id").cast("string"))) % 1000000L < ratePpm

  /** Fixed-iteration Lloyd fit. `points`: (vec_id, v: array<double>).
    * Initial centroids = the [[maximinSeedsSampled]] rows (or rows
    * vec_id < k when `firstKSeeds` — the data-sampled heuristic, kept for
    * controlled comparison and for corpora where ingest order is
    * known-shuffled), round(4)-quantized. Each iteration is the SOM step
    * with a one-cell neighborhood: every point joins its nearest
    * centroid's cell and the cell's centroid becomes
    * round(round(Σ, 6) / n, 4). An iteration that empties a cell carries
    * the cell's previous centroid forward (no respawn heuristics —
    * deterministic and oracle-replayable as a LEFT JOIN + COALESCE).
    * Returns k × d centroid components in cell order. */
  def fitLloyd(points: DataFrame, k: Int, iters: Int, spherical: Boolean,
               firstKSeeds: Boolean = false,
               seedRatePpm: Long = 1000000L): Array[Array[Double]] =
    withPoints(points, if (firstKSeeds) 1000000L else seedRatePpm) { keyed =>
      val init =
        if (firstKSeeds) keyed.filter(_._1 < k).map(p => (p._1, p._2)).collect().sortBy(_._1)
        else seeds(keyed, k, spherical, seedRatePpm)
      require(init.length == k, s"need $k seed rows, got ${init.length}")
      var protos = init.map(p => Vectors.dense(p._2.toArray.map(HalfUp.round(4))))
      val vectors = keyed.map(_._2)
      // w(i, j) = 1 iff i = j: each cell's plain mean; a cell with no
      // points keeps its (already 4-decimal) centroid
      val oneCell = Grid.neighborhood("rectangular", "rectangular", 1, k, 0.0)
      for (_ <- 0 until iters)
        protos = SOM.smooth(SOM.cellStats(vectors, fold(protos.map(_.toArray).toSeq, spherical)),
          protos, oneCell, sumDecimals = 6, protoDecimals = 4)._1
      protos.map(_.toArray)
    }

  /** The fitted quantizer as a (cell: long, c: array<double>) DataFrame —
    * the shape [[Similarity.ivfTopK]]/[[Similarity.ivfTopKSpill]] broadcast.
    * Shared through [[Artifacts]] so the five serving entries that consume
    * one quantizer pay the fit once per session (production trains once and
    * publishes the centroid table; this is that boundary). */
  def centroids(spark: SparkSession, points: => DataFrame, k: Int, iters: Int,
                spherical: Boolean, shareKey: String,
                seedRatePpm: Long = 1000000L): DataFrame =
    Artifacts.shared(spark, s"kmeans:$shareKey:$k:$iters:$spherical:$seedRatePpm") {
      import spark.implicits._
      fitLloyd(points, k, iters, spherical, firstKSeeds = false,
        seedRatePpm = seedRatePpm).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cell", "c")
    }

  private def fold(rows: Seq[Array[Double]], spherical: Boolean): BmuFold =
    if (spherical) BmuFold.cosine(rows) else BmuFold(rows)

  /** `points` (vec_id, v) decoded once and cached while `body` runs, each
    * row flagged with the [[seedSample]] rule at `ratePpm` (every row at
    * 1e6 or above). A bad row's IllegalArgumentException surfaces as
    * itself. */
  private def withPoints[T](points: DataFrame, ratePpm: Long)(
      body: RDD[(Long, Vector, Boolean)] => T): T = {
    val flag = if (ratePpm >= 1000000L) lit(true) else keepRule(ratePpm)
    val keyed = SOM.keyedPoints(points, "vec_id", "v", flag)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try SOM.rethrowBadRow(body(keyed)) finally keyed.unpersist(blocking = false)
  }

  /** A seeding scan's pick: the farthest point of a partition or overall. */
  private final case class Farthest(f: Double, id: Long, v: Vector)

  /** Whether (f, id) is picked before (g, jd): the larger farness first —
    * NaN above every number when `nanFirst`, below when not — then the
    * lower id (the relational `ORDER BY prox, vec_id`; -0.0 = 0.0). */
  private def before(f: Double, id: Long, g: Double, jd: Long, nanFirst: Boolean): Boolean =
    if (f.isNaN || g.isNaN) { if (f.isNaN && g.isNaN) id < jd else f.isNaN == nanFirst }
    else if (f != g) f > g
    else id < jd

  /** The maximin seeds among the flagged rows of `keyed`, in selection
    * order, with their vectors: one scan per seed. A point's farness is its
    * distance to the nearest chosen seed, `min d2` (NaN only when every
    * distance is) or `-max cos` (NaN when any cosine is), read off one
    * [[BmuFold]] pass; before the first seed every point ties, so the first
    * scan picks the minimum id and counts the pool. */
  private def seeds(keyed: RDD[(Long, Vector, Boolean)], k: Int, spherical: Boolean,
                    ratePpm: Long): Array[(Long, Vector)] = {
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector)]
    while (chosen.length < k) {
      val seedFold = if (chosen.isEmpty) null else fold(chosen.map(_._2.toArray).toSeq, spherical)
      val ids = chosen.map(_._1).toSet
      val scans = keyed.sparkContext.runJob(keyed, (it: Iterator[(Long, Vector, Boolean)]) => {
        val acc = if (seedFold == null) null else new Array[Double](seedFold.k)
        var n = 0L
        var best: Farthest = null
        it.foreach { case (id, v, keep) =>
          if (keep && !ids(id)) {
            n += 1
            val f = if (seedFold == null) 0.0 else {
              val d = acc(seedFold.argmin(v.toArray, acc))
              if (spherical && acc.exists(_.isNaN)) Double.NaN else d
            }
            if (best == null || before(f, id, best.f, best.id, !spherical)) best = Farthest(f, id, v)
          }
        }
        (n, best)
      })
      if (chosen.isEmpty) {
        val n = scans.map(_._1).sum
        require(n >= k, s"the seed pool has $n rows but k=$k seeds were requested" +
          (if (ratePpm < 1000000L) s" — raise ratePpm ($ratePpm/1e6 keep rate) or seed from the full corpus"
           else ""))
      }
      val best = scans.flatMap(s => Option(s._2))
        .reduce((a, b) => if (before(b.f, b.id, a.f, a.id, !spherical)) b else a)
      chosen += (best.id -> best.v)
    }
    chosen.toArray
  }

  /** TRAINED per-subspace PQ codebooks — a relational Lloyd fit with a
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
