package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorSql._
import graft.som.{Grid, SOM, VectorWithNorm}
import org.apache.spark.ml.linalg.{Vector, Vectors}

/** The SOM algebra steps as catalog entries, all against a deterministic
  * fixed prototype table (embeddings rows vec_id < 9 → a 3×3 map) so
  * correctness never depends on sampling, each checked against a relational
  * DuckDB oracle.
  *
  * Two shapes:
  *  - scoring (BMU assignment, quantization cost, map quality, U-matrix) is
  *    relational: the broadcast of the model becomes a broadcast hash join of
  *    the 9-row prototypes DataFrame, the per-point argmin a map-side
  *    `min(struct(d2, proto_id))` partial aggregate over vec_id (with K·N
  *    join rows the partial agg collapses to N rows before any exchange),
  *    and the reference's accumulator cost an exact agg column (reference
  *    `som/SOMModel.scala:76-97`);
  *  - the update side (per-cell stats, one neighborhood-weighted update)
  *    runs the estimator's own kernel, [[graft.som.SOM.cellStats]] /
  *    [[graft.som.SOM.step]]: one scan with no shuffle, K×d partials merged
  *    on the driver (reference `som/SOM.scala:192-244`).
  */
object SomQueries {
  val K = 9       // 3×3 map
  val Width = 3
  val Dim = 64    // embeddings dimensionality (TESTDATA)
  val T = 2.0     // fixed temperature for the single update step

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** points: (vec_id, v: array<double>) */
  def points(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** prototypes: (proto_id, c: array<double>) — 9 deterministic rows. */
  def protos(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).where(col("vec_id") < K)
      .select(col("vec_id").cast("long").as("proto_id"), asDouble(col("embedding")).as("c"))

  /** The fixed prototypes as vectors in proto_id order, each component
    * rounded to `decimals` (-1 = off). */
  def protoVectors(s: SparkSession, dir: String, decimals: Int = -1): Array[Vector] =
    protos(s, dir).collect().sortBy(_.getLong(0))
      .map(r => Vectors.dense(r.getAs[Seq[Double]]("c").toArray.map(SOM.round(decimals))))

  /** A K×d prototype matrix as (cell, dim, nv) rows. */
  def cellRows(s: SparkSession, protos: Seq[Vector]): DataFrame = {
    import s.implicits._
    protos.zipWithIndex
      .flatMap { case (p, k) => p.toArray.zipWithIndex.map { case (x, d) => (k, d, x) } }
      .toDF("cell", "dim", "nv")
  }

  /** point × prototype distances; prototype side broadcast (no shuffle). */
  private def dists(s: SparkSession, dir: String): DataFrame =
    points(s, dir).crossJoin(broadcast(protos(s, dir)))
      .select(col("vec_id"), col("proto_id"), sqDistFast(col("v"), col("c")).as("d2"))

  /** (vec_id, bmu, d2) best-matching-unit per point, min-id tie-break —
    * relational twin of reference `findClosest` (`som/SOM.scala:306-326`). */
  def assign(s: SparkSession, dir: String): DataFrame =
    dists(s, dir)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("proto_id"))).as("m"))
      .select(col("vec_id"), col("m.proto_id").as("bmu"), round(col("m.d2"), 4).as("d2r"))

  /** Unrounded assignment for internal reuse. */
  private def assignRaw(s: SparkSession, dir: String): DataFrame =
    dists(s, dir)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("proto_id"))).as("m"))
      .select(col("vec_id"), col("m.proto_id").as("bmu"), col("m.d2").as("d2"))

  /** Global quantization error — reference `computeCost`
    * (`som/SOMModel.scala:92-97`) as one exact aggregate (no accumulator). */
  def cost(s: SparkSession, dir: String): DataFrame =
    assignRaw(s, dir).agg(count(lit(1)).as("n"), round(sum(col("d2")), 2).as("cost"))

  /** Per-cell componentwise sums + counts — the partial-agg step of training
    * (reference `som/SOM.scala:192-212`), read off the estimator's
    * [[SOM.cellStats]] against the fixed prototypes; sums rounded to 4
    * decimals. */
  def cellStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = SOM.cellStats(SOM.points(points(s, dir), "v"), protoVectors(s, dir).map(VectorWithNorm(_)))
    (for (c <- 0 until K if agg.counts(c) > 0; (x, d) <- agg.sums(c).zipWithIndex)
      yield (c.toLong, d, SOM.round(4)(x), agg.counts(c))).toDF("bmu", "dim", "s", "n")
  }

  /** One neighborhood-weighted update step at fixed temperature T: the
    * k-means-with-topology update (reference `som/SOM.scala:219-244`).
    * new_k[dim] = Σ_j w(k,j)·S_j[dim] / Σ_j w(k,j)·n_j,
    * w(k,j) = exp(-cellDist(k,j)² / T²), Manhattan dist on the 3×3 grid. */
  def updateStep(s: SparkSession, dir: String): DataFrame =
    updateStepTopo(s, dir, "rectangular")

  /** The same update under HEXAGONAL topology — the reference's unshipped
    * README to-do, oracle-proven here: hex cell distances differ from
    * Manhattan on diagonals under the odd-r convention (3×3:
    * dist((1,0),(0,1)) is 1 where Manhattan gives 2, while
    * dist((0,0),(1,1)) stays 2 — which diagonal is a single hex step
    * depends on the row's parity), so the weight table and the resulting
    * prototypes genuinely diverge from `som_update`; both engines use the
    * same driver-computed weights built from [[graft.som.Grid.cellDistHex]]
    * (the oracle as literals). */
  def updateStepHex(s: SparkSession, dir: String): DataFrame =
    updateStepTopo(s, dir, "hexagonal")

  /** One [[SOM.step]] from the fixed prototypes: sums rounded to 6
    * decimals, prototypes to 4 (the oracle's round(sum, 6) and round(nv, 4)). */
  private def updateStepTopo(s: SparkSession, dir: String, topology: String): DataFrame = {
    val cd = Grid.cellDistFor(topology, Width)
    val (next, _) = SOM.step(SOM.points(points(s, dir), "v"), protoVectors(s, dir).map(VectorWithNorm(_)),
      (k, j) => Grid.kernelWeight("gaussian", cd(k, j), T), sumDecimals = 6, protoDecimals = 4)
    cellRows(s, next.map(_.vector).toSeq)
      .select(col("cell").cast("long").as("cell"), col("dim"), col("nv"))
  }

  /** Same BMU assignment expressed as pure SQL text through the parser, with
    * the registered `array_sqdist` function — exercises the spark.sql entry
    * path end-to-end (same oracle as som_assign). */
  def assignSql(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    graft.functions.ArrayVectorExpressions.registerSqlFunctions(fork)
    emb(fork, dir).createOrReplaceTempView("graft_embeddings")
    fork.sql(s"""
      WITH pts AS (SELECT vec_id, CAST(embedding AS array<double>) AS v FROM graft_embeddings),
      protos AS (SELECT CAST(vec_id AS BIGINT) AS proto_id,
                        CAST(embedding AS array<double>) AS c
                 FROM graft_embeddings WHERE vec_id < $K),
      d AS (SELECT /*+ BROADCAST(protos) */ vec_id, proto_id,
                   array_sqdist(v, c) AS d2
            FROM pts CROSS JOIN protos)
      SELECT vec_id, m.proto_id AS bmu, round(m.d2, 4) AS d2r
      FROM (SELECT vec_id, min(struct(d2, proto_id)) AS m FROM d GROUP BY vec_id)
    """)
  }

  /** Map-QUALITY metrics — the two standard SOM evaluation numbers the
    * reference never computes (its README reports only the training cost):
    * QUANTIZATION error (mean distance to the BMU) and TOPOGRAPHIC error
    * (fraction of points whose best and second-best units are NOT grid
    * neighbors — the map-folding signal). One broadcast distance pass, a
    * per-point rank-2 window, one global aggregate. Float discipline:
    * `sqrt` is IEEE-correctly-rounded (identical both engines), the
    * order-dependent mean goes through round(9) → DECIMAL sum; the
    * topographic numerator is an exact integer. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("proto_id"))
    val two = dists(s, dir)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("proto_id"))).as("b1"),
        max(when(col("rn") === 2, col("proto_id"))).as("b2"),
        max(when(col("rn") === 1, col("d2"))).as("d1"))
    val nonAdj = (abs(expr(s"b1 div $Width") - expr(s"b2 div $Width")) +
      abs(col("b1") % Width - col("b2") % Width)) =!= 1
    two.agg(
      count(lit(1)).as("n"),
      sum(when(nonAdj, 1L).otherwise(0L)).as("n_topo_errors"),
      round(sum(when(nonAdj, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
        .as("topo_error"),
      round(sum(round(sqrt(col("d1")), 9).cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("quant_error"))
  }

  /** U-MATRIX — the classic SOM visualization surface (Ultsch's unified
    * distance matrix) the reference never computes: per grid cell the
    * summed Euclidean distance to its rectangular-grid NEIGHBOR prototypes
    * (Manhattan-1 cells). High-ridge cells mark cluster boundaries on the
    * map; together with `som_quality`'s QE/TE this completes the standard
    * SOM evaluation toolkit. Exact-integer discipline: per-neighbor
    * distances round to 6 decimals and sum as e6 micro-units (neighbor
    * counts ≤ 4, so the sum order never matters once quantized); the mean
    * is left to the reader as `sum_ndist_e6 / n_neighbors` — no float
    * division crosses the engine boundary. The prototype self-join is
    * 9×9 — grid-sized, never data-sized. */
  def umatrix(s: SparkSession, dir: String): DataFrame = {
    val p = protos(s, dir)
    val a = p.select(col("proto_id").as("k"), col("c").as("ck"))
    val b = p.select(col("proto_id").as("j"), col("c").as("cj"))
    val adj = (abs(expr(s"k div $Width") - expr(s"j div $Width")) +
      abs(col("k") % Width - col("j") % Width)) === 1
    a.join(b, adj)
      .select(col("k"),
        round(round(sqrt(graft.functions.VectorSql.sqDistFast(col("ck"), col("cj"))), 6)
          * 1000000, 0).cast("long").as("nd_e6"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("int").as("n_neighbors"),
        sum(col("nd_e6")).cast("long").as("sum_ndist_e6"))
      .select(col("k").as("cell"),
        expr(s"cast(cell div $Width as int)").as("row"),
        (col("cell") % Width).cast("int").as("col"),
        col("n_neighbors"), col("sum_ndist_e6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "som_assign"     -> assign _,
    "som_assign_sql" -> assignSql _,
    "som_cost"       -> cost _,
    "som_cell_stats" -> cellStats _,
    "som_update"     -> updateStep _,
    "som_update_hex" -> updateStepHex _,
    "som_quality"    -> quality _,
    "som_umatrix"    -> umatrix _,
  )

  // ---- DuckDB oracle SQL (ANSI-ish; bare table names are driver-registered
  // views over the same parquet). list_sum(list_transform(...)) folds in the
  // same order as Spark's aggregate(zip_with(...)) → bit-identical doubles.
  private val ptsCte =
    "pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private val protosCte =
    "protos AS (SELECT CAST(vec_id AS BIGINT) AS proto_id, CAST(embedding AS DOUBLE[]) AS c FROM embeddings WHERE vec_id < 9)"
  private val distCte =
    s"""d AS (SELECT vec_id, proto_id,
       | list_sum(list_transform(range(1, ${Dim + 1}), i -> (v[i]-c[i])*(v[i]-c[i]))) AS d2
       | FROM pts CROSS JOIN protos)""".stripMargin
  private val bmuCte =
    """a AS (SELECT vec_id, proto_id AS bmu, d2 FROM
      | (SELECT vec_id, proto_id, d2,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, proto_id) AS rn FROM d)
      | WHERE rn = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "som_assign" ->
      s"""WITH $ptsCte, $protosCte, $distCte, $bmuCte
         |SELECT vec_id, bmu, round(d2, 4) AS d2r FROM a""".stripMargin,
    "som_assign_sql" ->
      s"""WITH $ptsCte, $protosCte, $distCte, $bmuCte
         |SELECT vec_id, bmu, round(d2, 4) AS d2r FROM a""".stripMargin,
    "som_cost" ->
      s"""WITH $ptsCte, $protosCte, $distCte, $bmuCte
         |SELECT CAST(count(*) AS BIGINT) AS n, round(sum(d2), 2) AS cost FROM a""".stripMargin,
        "som_umatrix" ->
      s"""WITH $protosCte,
         |adj AS (SELECT a.proto_id AS k, b.proto_id AS j, a.c AS ck, b.c AS cj
         |  FROM protos a JOIN protos b
         |    ON abs(a.proto_id // $Width - b.proto_id // $Width)
         |     + abs(a.proto_id % $Width - b.proto_id % $Width) = 1),
         |nd AS (SELECT k,
         |  CAST(round(round(sqrt(list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> (ck[i]-cj[i])*(ck[i]-cj[i])))), 6) * 1000000, 0) AS BIGINT) AS nd_e6
         |  FROM adj)
         |SELECT k AS cell, CAST(k // $Width AS INT) AS row,
         |  CAST(k % $Width AS INT) AS col,
         |  CAST(count(*) AS INT) AS n_neighbors,
         |  CAST(sum(nd_e6) AS BIGINT) AS sum_ndist_e6
         |FROM nd GROUP BY 1 ORDER BY 1""".stripMargin,
    "som_quality" ->
      s"""WITH $ptsCte, $protosCte, $distCte,
         |r2 AS (SELECT vec_id, proto_id, d2,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, proto_id) AS rn FROM d),
         |two AS (SELECT vec_id,
         |  max(CASE WHEN rn = 1 THEN proto_id END) AS b1,
         |  max(CASE WHEN rn = 2 THEN proto_id END) AS b2,
         |  max(CASE WHEN rn = 1 THEN d2 END) AS d1
         | FROM r2 WHERE rn <= 2 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN abs(b1 // $Width - b2 // $Width)
         |    + abs(b1 % $Width - b2 % $Width) != 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_topo_errors,
         |  round(CAST(sum(CASE WHEN abs(b1 // $Width - b2 // $Width)
         |    + abs(b1 % $Width - b2 % $Width) != 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS topo_error,
         |  round(CAST(sum(CAST(round(sqrt(d1), 9) AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 6) AS quant_error
         |FROM two""".stripMargin,
    "som_cell_stats" ->
      s"""WITH $ptsCte, $protosCte, $distCte, $bmuCte
         |SELECT a.bmu, CAST(t.i - 1 AS INT) AS dim, round(sum(p.v[t.i]), 4) + 0 AS s,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM a JOIN pts p USING (vec_id)
         |CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) t
         |GROUP BY 1, 2""".stripMargin,
    "som_update" -> updateOracleSql("rectangular"),
    "som_update_hex" -> updateOracleSql("hexagonal"),
  )

  /** Update-step oracle for a topology. Gaussian weights injected as
    * LITERALS computed once on the driver — the exact values the Spark side
    * joins against. Computing exp() in DuckDB's libm drifts in the last ulp
    * and flips round(nv, 4) on boundary rows (the som_fit5 oracle proved
    * this discipline). `+ 0` after the final round: DuckDB's round()
    * preserves -0.0 where Spark's (BigDecimal-based) normalizes to +0.0 —
    * Python `==` calls them equal but the driver's hash compares bits. */
  private def updateOracleSql(topology: String): String = {
    val cd = Grid.cellDistFor(topology, Width)
    val wRows = (for (k <- 0 until K; j <- 0 until K)
      yield s"($k, $j, ${Grid.kernelWeight("gaussian", cd(k, j), T)}::DOUBLE)")
      .mkString(", ")
    s"""WITH $ptsCte, $protosCte, $distCte, $bmuCte,
       |sums AS (
       |  SELECT a.bmu, CAST(t.i - 1 AS INT) AS dim, round(sum(p.v[t.i]), 6) AS s,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM a JOIN pts p USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) t
       |  GROUP BY 1, 2),
       |w(k, j, w) AS (VALUES $wRows)
       |SELECT CAST(w.k AS BIGINT) AS cell, sums.dim,
       |       round(sum(w.w * sums.s) / sum(w.w * sums.n), 4) + 0 AS nv
       |FROM sums JOIN w ON sums.bmu = w.j
       |GROUP BY 1, 2""".stripMargin
  }
}
