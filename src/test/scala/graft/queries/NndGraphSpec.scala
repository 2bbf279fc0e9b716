package graft.queries

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Convergence guard for the NN-descent graph build (r9 verdict #1) —
  * GRAPH ACCURACY (fraction of true directed top-m edges present, the
  * Dong et al. convergence metric) on a corpus WITH cluster structure,
  * where the neighbor-of-neighbor invariant has signal. This is the
  * realistic 100 TB embedding corpus; the catalog's direction-random
  * tables are the adversarial floor for NND and carry their own serve
  * bar in AnnRecallSpec. Measured here (n=3200, 16 clusters,
  * cellpop ≈ 112): ring-only round 1 ≈ 0.58, +NoN rounds → 0.95–1.0 at
  * ring coverage well under the cell — the transitivity, not the ring,
  * closes the graph. The blocked build scores 1.0 scanning every
  * same-cell pair (2·cellpop ≈ 224 candidates/node, the N^1.5 path);
  * NND's per-node candidate count stays rounds·(spill·deg + (2m)²) —
  * corpus-size-free modulo the log-N ring window. */
class NndGraphSpec extends SparkSpec {

  private def clustered(nClusters: Int, per: Int) = {
    import spark.implicits._
    val dim = 64
    def h(a: Int, b: Int, c: Int): Double = {
      val x = ((a * 1000003 + b) * 997 + c) * 2654435761L
      ((x % 1000).toDouble / 1000.0 - 0.5) * 1.2
    }
    def center(cl: Int): Array[Double] =
      Array.tabulate(dim)(d => if (d % nClusters == cl) 4.0 else 0.0)
    val rows = for {
      cl <- 0 until nClusters
      i <- 0 until per
    } yield (i.toLong * nClusters + cl,
      center(cl).zipWithIndex.map { case (x, d) => x + h(cl, i, d) })
    rows.toDF("vec_id", "v")
  }

  /** The spilled √N-cell multi-assignment the serving entries build on
    * (the [[SimilarityQueries.spilledSqrtN]] construction over an
    * in-memory corpus). */
  private def spilledFor(pts: org.apache.spark.sql.DataFrame, n: Long) = {
    val cells = SimilarityQueries.centroidCount(n)
    val protos = pts.where(col("vec_id") < cells)
      .select(col("vec_id").cast("long").as("cell"), col("v").as("c"))
    val cosC = graft.functions.VectorSql.dotFast(col("v"), col("c")) /
      (graft.functions.VectorSql.norm2Fast(col("v")) *
        graft.functions.VectorSql.norm2Fast(col("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("vcos").desc, col("cell"))
    pts.crossJoin(broadcast(protos))
      .select(col("vec_id"), col("v"), col("cell"), cosC.as("vcos"))
      .withColumn("vrn", row_number().over(w))
      .where(col("vrn") <= SimilarityQueries.SpillCells)
      .select(col("vec_id"), col("v"), col("cell")).localCheckpoint(true)
  }

  test("NND graph accuracy converges to the blocked build's on a clustered corpus") {
    val pts = clustered(16, 200).localCheckpoint(true)
    val n = pts.count()
    val m = SimilarityQueries.NswM
    // truth: exact directed top-m of a ~100-node deterministic sample
    val sample = pts.where(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("p"))
      .localCheckpoint(true)
    val truth = Similarity.bruteTopK(pts, sample, m)
      .select(col("probe_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(true)
    val nTruth = truth.count()
    val cells = SimilarityQueries.centroidCount(n)
    val spilled = spilledFor(pts, n)
    def acc(edges: org.apache.spark.sql.DataFrame): Double =
      edges.intersect(truth).count().toDouble / nTruth
    val blockedAcc = acc(Similarity.knnGraphEdges(spilled, m))
    // a window one-seventh of the cell: the ring alone cannot close the
    // graph; rounds of NoN must (measured 0.58 ring-only → ≥ 0.95)
    val smallWindow = acc(Similarity.knnGraphEdgesNnd(spilled, pts, m,
      initDeg = 16, rounds = SimilarityQueries.NndRounds))
    val ringOnly = acc(Similarity.knnGraphEdgesNnd(spilled, pts, m,
      initDeg = 16, rounds = 0))
    // the serving configuration (adaptive log-N window)
    val serving = acc(Similarity.knnGraphEdgesNnd(spilled, pts, m,
      SimilarityQueries.nndRingDeg(n), SimilarityQueries.NndRounds))
    info(s"n=$n cellpop≈${2 * n / cells} blocked=$blockedAcc " +
      s"ringOnly(16)=$ringOnly nnd(16)=$smallWindow " +
      s"serving(${SimilarityQueries.nndRingDeg(n)})=$serving")
    assert(blockedAcc >= 0.99, s"blocked build should be near-exact: $blockedAcc")
    assert(ringOnly <= 0.8,
      s"the small ring alone should NOT close the graph: $ringOnly")
    assert(smallWindow >= 0.95,
      s"NoN rounds must close what the ring samples: $smallWindow")
    assert(serving >= 0.95, s"serving config accuracy degraded: $serving")
  }

  /** MEASURED convergence trajectories for the eps-stop variant (r10
    * verdict #8) — the honest finding: the converged round count is
    * CORPUS-DEPENDENT, so the shipped `NndRounds` = 3 is pinned by the
    * serve-recall bar (AnnRecallSpec), NOT by edge convergence. On the
    * clustered corpus NoN transitivity closes the graph after 2 rounds
    * (round 3 changes zero edges); on the direction-random floor the
    * new-edge share decays slowly through structureless churn (14.7% →
    * 6.7% → 3.6% → 1.4% at n=500) and crosses the 2% bar after round 5 —
    * but those extra rounds buy no serve recall (the accuracy test
    * above: 3 rounds already ≥ 0.95). What MUST hold — and is the
    * oracle-replay seam the variant exists for — is that the eps stop's
    * output equals the fixed-round build at its own realized count,
    * bit for bit. */
  test("eps-stop NND: realized count is corpus-dependent and replayable as a literal") {
    import graft.operators.Similarity.NndEpsPpm
    val m = SimilarityQueries.NswM
    def run(pts: org.apache.spark.sql.DataFrame, spilled: org.apache.spark.sql.DataFrame,
            label: String): (org.apache.spark.sql.DataFrame, Int, Seq[Long]) = {
      val n = pts.count()
      val (e, realized, trace) = Similarity.knnGraphEdgesNndTrace(
        spilled, pts, m, SimilarityQueries.nndRingDeg(n), maxRounds = 6, NndEpsPpm)
      info(s"$label: n=$n realized=$realized newEdgePpm=${trace.mkString(",")}")
      (e, realized, trace)
    }
    // the clustered corpus (NoN transitivity has signal) …
    val ptsC = clustered(16, 200).localCheckpoint(true)
    val spC = spilledFor(ptsC, ptsC.count())
    val (eC, rC, trC) = run(ptsC, spC, "clustered")
    // … and the catalog's direction-random corpus (the adversarial floor)
    val dir = sf("sf0.001")
    val ptsR = SomQueries.points(spark, dir).localCheckpoint(true)
    val spR = SimilarityQueries.spilledSqrtN(spark, dir).localCheckpoint(true)
    val (eR, rR, trR) = run(ptsR, spR, "random")
    // structure ⇒ early convergence; no structure ⇒ a residual-churn tail
    assert(rC <= SimilarityQueries.NndRounds,
      s"clustered: NoN should converge within the shipped rounds, realized $rC")
    assert(rR >= SimilarityQueries.NndRounds,
      s"random: the structureless tail should not stop early, realized $rR")
    for ((r, tr, label) <- Seq((rC, trC, "clustered"), (rR, trR, "random"))) {
      // the stop is not vacuous: every executed round after init was above
      // the bar, the round after the last executed one fell below it
      assert(tr.size == r + 1, s"$label: trace $tr")
      assert(tr.init.tail.forall(_ >= NndEpsPpm),
        s"$label: an executed round was already converged: $tr")
      assert(tr.last < NndEpsPpm, s"$label: stop round not converged: $tr")
      assert(tr.tail == tr.tail.sorted.reverse,
        s"$label: new-edge share must decay monotonically: $tr")
    }
    // THE replay seam: converged(eps) == fixed(realized), bit for bit
    val nC = ptsC.count()
    val fixedC = Similarity.knnGraphEdgesNnd(spC, ptsC, m,
      SimilarityQueries.nndRingDeg(nC), rC)
    assert(eC.except(fixedC).isEmpty && fixedC.except(eC).isEmpty,
      "clustered: converged build must equal the fixed build at the realized count")
    val nR = ptsR.count()
    val fixedR = Similarity.knnGraphEdgesNnd(spR, ptsR, m,
      SimilarityQueries.nndRingDeg(nR), rR)
    assert(eR.except(fixedR).isEmpty && fixedR.except(eR).isEmpty,
      "random: converged build must equal the fixed build at the realized count")
  }

  /** `nndDescent` removes the previous round's edges with a `left_anti`
    * join, not `except`. The two give the same set only while each round's
    * directed top-M has no duplicate rows and no null keys, which this pins. */
  test("every NND round's directed top-M edges are distinct, non-null rows") {
    val pts = clustered(8, 80).localCheckpoint(true)
    val n = pts.count()
    val spilled = spilledFor(pts, n)
    for (rounds <- 0 to SimilarityQueries.NndRounds) {
      val e = Similarity.knnGraphDirectedNnd(spilled, pts, SimilarityQueries.NswM,
        SimilarityQueries.nndRingDeg(n), rounds).localCheckpoint(true)
      val rows = e.count()
      assert(rows > 0, s"round $rounds: empty edge set")
      assert(rows == e.distinct().count(), s"round $rounds: duplicate directed edges")
      assert(e.where(col("src").isNull || col("dst").isNull).isEmpty, s"round $rounds: null key")
    }
  }

  /** The `ann_nsw_nnd_delta` lifecycle property: increments over an NND
    * day-zero artifact COMPOUND — applying delta batch 1 then batch 2 to
    * the carried DIRECTED result equals applying both at once. (Top-M
    * mergeability: topM(topM(A)∪B) = topM(A∪B) with A = the NND chain's
    * candidate set; the candidate coverage of split batches equals the
    * one-shot's because batch 2's member→new keys reach batch 1 both
    * directions.) Without this, a daily pipeline would drift from the
    * gated one-shot merge after two days. */
  test("NND day-zero + compounding increments == one-shot delta merge") {
    val pts = clustered(8, 80).localCheckpoint(true)
    val n = pts.count()
    val m = SimilarityQueries.NswM
    val spilled = spilledFor(pts, n)
    val cut1 = n - n / 5  // day-zero corpus: oldest 80%
    val cut2 = n - n / 10 // after batch 1: 90%
    val splD0 = spilled.where(col("vec_id") < cut1)
    val d0 = Similarity.knnGraphDirectedNnd(splD0,
        pts.where(col("vec_id") < cut1), m,
        SimilarityQueries.nndRingDeg(cut1), SimilarityQueries.NndRounds)
      .localCheckpoint(eager = true)
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = edgeSet(Similarity.knnGraphEdgesIncremental(
      splD0, spilled.where(col("vec_id") >= cut1), d0, pts, m))
    val afterB1 = Similarity.knnGraphDirectedIncremental(
        splD0, spilled.where(col("vec_id") >= cut1 && col("vec_id") < cut2),
        d0, pts, m)
      .localCheckpoint(eager = true)
    val compounded = edgeSet(Similarity.knnGraphEdgesIncremental(
      spilled.where(col("vec_id") < cut2),
      spilled.where(col("vec_id") >= cut2), afterB1, pts, m))
    assert(compounded == oneShot,
      s"compounded dailies drifted from the one-shot merge: " +
        s"only-compounded=${(compounded -- oneShot).take(5)}, " +
        s"only-oneshot=${(oneShot -- compounded).take(5)}")
    // the fixture is not trivial: batch 2 really displaced a carried edge
    val carried = {
      val t = edgeSet(afterB1)
      t ++ t.map(_.swap)
    }
    assert((carried -- compounded).nonEmpty,
      "fixture too easy: no carried edge was displaced by batch 2")
  }
}
