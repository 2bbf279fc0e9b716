package graft.queries

import graft.som.{SOM, SOMModel, VectorWithNorm}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries that exercise the full SOM Estimator/Model API end-to-end, plus
  * the catalog's other ML entries. The iterative fits are not
  * ANSI-expressible as one aggregate, but every one is still oracle-hashed:
  * warm-start init from the fixed prototype table (embeddings vec_id < 9)
  * removes all sampling, and quantized iterates let a DuckDB CTE chain
  * replay the whole training run.
  */
object MlQueries {

  /** Fit a 3×3 SOM on the embeddings table (warm-started from the fixed
    * prototypes), score the same table: (vec_id, prediction).
    *
    * Fully oracle-checked: the fit is [[fit5Model]] (equal to the proven
    * `som_fit5` CTE chain's `p5`), so the final assignment is
    * ANSI-expressible (chain + one argmin CTE). Scoring goes through
    * [[SOMModel.transformNative]] — whole-stage codegen, no UDF barrier. */
  def somFitPredict(s: SparkSession, dir: String): DataFrame = {
    val emb = embFeatures(s, dir)
    fit5Model(s, dir, emb).transformNative(emb).select(col("vec_id"), col("prediction"))
  }

  /** Per-dimension z-score standardization of the embedding corpus — the
    * canonical feature-preprocessing pass (mean/std per dim over the whole
    * corpus, then normalize). Two aggregation passes + a broadcast join of
    * the 64-row stats table; at 100 TB the stats are a tiny
    * dimension-side. */
  def mlStandardize(s: SparkSession, dir: String): DataFrame = {
    val exploded = SomQueries.points(s, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
    // Float-determinism discipline (SURVEY §8), structural version: Σx and
    // Σx² are computed as DECIMAL(38,18) sums — the per-row double→decimal
    // cast is deterministic and decimal addition is exact, so the sums are
    // bit-identical across engines and aggregation orders BY CONSTRUCTION
    // (round 2 rounded the already-divergent double avg/stddev, which only
    // shrank the failure odds). The decimal→double hop goes through
    // round(·, 9) in decimal space so both engines convert the same ≤9-scale
    // value (exactly representable path); mu/sigma/z are then identical
    // double arithmetic per row. The decimal agg costs ~2× the double agg and
    // exists for cross-engine verifiability; the stats stay a 64-row
    // broadcast side either way.
    val stats = exploded.groupBy(col("dim"))
      .agg(
        round(sum(col("x").cast("decimal(38,18)")), 9).cast("double").as("sx"),
        round(sum((col("x") * col("x")).cast("decimal(38,18)")), 9).cast("double").as("sxx"),
        count(lit(1)).as("n"))
      .select(col("dim"), (col("sx") / col("n")).as("mu"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("sigma"))
    exploded.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        round((col("x") - col("mu")) / col("sigma"), 4).as("z"))
  }

  /** Symmetric int8 quantization of the embedding corpus — the compression
    * step an ANN-serving layer runs (4 bytes → 1 per dim). Per-dim max-abs
    * scale from ONE agg pass (double `max` is order-exact, no DECIMAL needed
    * — unlike sums), then `code = floor(x/s·127 + 0.5)`: both engines fold
    * the identical IEEE expression left-to-right, so the codes AND the
    * dequantized reconstructions are bit-deterministic with no rounding
    * escape hatch. Constant-zero dims (s = 0) code to 0. The 64-row scale
    * table is a broadcast side, like [[mlStandardize]]'s stats. */
  def mlQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val exploded = SomQueries.points(s, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
    val scales = exploded.groupBy(col("dim")).agg(max(abs(col("x"))).as("s"))
    val code = when(col("s") === 0.0, lit(0L))
      .otherwise(floor(col("x") / col("s") * 127 + 0.5))
    exploded.join(broadcast(scales), "dim")
      .select(col("vec_id"), col("dim"), code.cast("int").as("code"),
        (round(code.cast("double") * col("s") / 127, 6) + lit(0.0)).as("recon"))
  }

  /** Power-iteration rounds and the integer unit the direction vector is
    * renormalized to after each round. */
  val PowerIters = 5
  val PowerUnit = 1000L

  /** Dominant eigenvector of XᵀX over the INT8-QUANTIZED corpus — the
    * top principal direction, by 5 rounds of power iteration carried out
    * ENTIRELY in integer arithmetic: codes are [[mlQuantizeInt8]]'s exact
    * int8 lattice, the direction vector lives in [[PowerUnit]]-scaled
    * integers, and renormalization is TRUNCATING division `y·unit / max|y|`
    * (DuckDB's integer `//` truncates toward zero, like Scala `/`;
    * Math.floorDiv would disagree on negative components — measured as a
    * ±2-ulp drift compounding across rounds). Integer sums are order-independent,
    * so a result that would be hash-hostile in doubles (corpus-sized
    * float reductions per round) is exact cross-engine.
    *
    * Scale shape: the quantized corpus pivots to one array row per vector
    * ONCE (one shuffle, persisted); each round is then a single cached
    * scan — in-row dot for sᵢ = qᵢ·x, explode + 64-group integer aggregate
    * for y = Σ qᵢ·sᵢ (partials combine map-side) — plus a 64-row collect.
    * The driver holds only the 64-long direction (the SOM-fit discipline).
    * int64 headroom: |y| ≤ 127·(127·64·unit)·N ≈ 2¹⁰·unit·N — at 10¹²
    * rows a production run would renorm in a wider unit or per-partition;
    * documented, not needed at any tested SF. */
  def mlTopDirection(s: SparkSession, dir: String): DataFrame = {
    val qArr = mlQuantizeInt8(s, dir)
      .groupBy(col("vec_id"))
      .agg(expr("array_sort(collect_list(struct(dim, code)))").as("a"))
      .select(col("vec_id"), expr("transform(a, e -> cast(e.code as long))").as("qv"))
      .persist()
    try {
      qArr.count()
      var x = Array.fill(64)(PowerUnit)
      for (_ <- 1 to PowerIters) {
        val y = qArr
          .withColumn("xarr", lit(x))
          .withColumn("sv", expr(
            "aggregate(zip_with(qv, xarr, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
          .select(posexplode(col("qv")).as(Seq("dim", "qd")), col("sv"))
          .groupBy(col("dim")).agg(sum(col("qd") * col("sv")).as("y"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val m = (0 until 64).map(d => math.abs(y(d))).max
        require(m > 0, "power iteration collapsed to the zero vector")
        x = Array.tabulate(64)(d => y(d) * PowerUnit / m)
      }
      import s.implicits._
      x.toSeq.zipWithIndex.map { case (c, d) => (d, c) }.toDF("dim", "coef")
    } finally qArr.unpersist()
  }

  /** Domain-MIXTURE resampling under a token budget — the data-mixing step
    * of a pretraining run: each source domain gets a per-mille share of the
    * total token budget (tier-1 sources 100‰, tier-2 60‰, long tail 20‰),
    * and docs are admitted per source in salted-content-hash order while
    * the source's cumulative REAL-BPE token count fits its budget. The
    * sample is a pure function of doc identity (reproducible across runs /
    * engines / backfills, like the stratified sampler) and the budget is
    * measured in the tokens the training run actually sees.
    *
    * Scale: one window shuffle partitioned by source (sources ≪ corpus;
    * a skewed giant source would take the salting treatment of
    * `q_skew_agg`); the BPE count is computed inside the scan. */
  val MixBudgetTokens = 20000
  private val MixTier1 = Seq("src0", "src1", "src2", "src3", "src4")
  private val MixTier2 = Seq("src5", "src6", "src7", "src8", "src9")
  /** QUALITY-WEIGHTED deterministic sampling — the importance-sampling
    * member of the sampling family (`q_stratified_sample` fixes per-class
    * rates; this one varies the rate PER DOCUMENT by a quality signal):
    * doc kept iff `hash(doc_id) mod 10^6 < rate_ppm`, with rate
    * proportional to content length capped at 1 (the standard
    * quality-proportional curriculum shape — any integer score slots in).
    * Emits the inverse-propensity weight (`10^12 div rate_ppm` micro-units)
    * a downstream estimator reweights by, so corpus statistics stay
    * unbiased under the non-uniform keep. Pure function of doc identity:
    * in-scan expressions, no shuffle, rerun-stable, and the SAME decision
    * on any cluster size (the salted-hash discipline of
    * `ml_train_test_split`). */
  def mlWeightedSample(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .withColumn("rate_ppm",
        least(lit(1000000L), col("n_chars").cast("long") * 4000))
      .select(col("doc_id"), col("rate_ppm"),
        (graft.functions.VectorSql.md5Hash60(
          concat(lit("ws:"), col("doc_id").cast("string"))) % 1000000
          < col("rate_ppm")).cast("int").as("kept"),
        expr("cast(1000000000000 div greatest(rate_ppm, 1) as bigint)")
          .as("ipw_micro"))

  /** EMBEDDING-NORM OUTLIER REPORT — the vector-QA pass before an index
    * build: the corpus's extreme-norm vectors (a zeroed or exploded
    * embedding is an upstream encoder bug, and cosine serving quietly
    * misbehaves around them). Exact integer-free discipline: norm² is the
    * shared left-to-right fold (bit-identical cross-engine), ranking is
    * total-ordered (norm², vec_id), and both tails ride the per-key heap
    * operator (the two "keys" are the tail labels — never a global sort).
    * Top/bottom 20 at any corpus size: the report is constant-sized. */
  def mlNormOutliers(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.experimental.extraStrategies =
      fork.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    val n2 = fork.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorSql.dotFast(
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("norm2"))
    // per-tail sort key precomputed in the union projection (negated for
    // the high tail) so the heap operator orders by a plain column
    val both = n2.select(lit("high").as("tail"), col("vec_id"), col("norm2"),
        (-col("norm2")).as("key"))
      .unionByName(n2.select(lit("low").as("tail"), col("vec_id"), col("norm2"),
        col("norm2").as("key")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tail"))
      .orderBy(col("key"), col("vec_id"))
    graft.plans.TopKPerKey.topKPerKey(both,
      keys = Seq(col("tail")),
      order = Seq(col("key").asc, col("vec_id").asc),
      k = 20)
      .withColumn("rank", row_number().over(w))
      .select(col("tail"), col("rank"), col("vec_id"),
        round(col("norm2"), 6).as("norm2"))
  }

  def mlDomainMixture(s: SparkSession, dir: String): DataFrame = {
    val share = when(col("source").isin(MixTier1: _*), 100)
      .when(col("source").isin(MixTier2: _*), 60)
      .otherwise(20) // per-mille
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.operators.TextOps.bpeTokenCount(col("text")).cast("long").as("n_tokens"),
        graft.functions.VectorSql.md5Hash60(
          concat(lit("mix:"), col("doc_id").cast("string"))).as("h"),
        (share * MixBudgetTokens).as("share_tok"))
      .withColumn("budget", expr("share_tok div 1000"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Training-shard EXPORT with its manifest under the hash gate — the last
    * mile the pipeline entries stop short of: after cleaning/packing, a
    * trainer consumes fixed-budget shard FILES. Shard assignment is the
    * greedy sequential fill `shard = floor(cumBefore / budget)` in doc
    * order, budget measured in REAL BPE tokens, computed with the
    * DISTRIBUTED prefix sum ([[graft.operators.Shards.assignShards]]:
    * √N-sized range buckets → exact bucket offsets → per-bucket parallel
    * windows; never the single-task global `Window.orderBy`). The shards
    * are REALLY WRITTEN — `partitionBy(shard)`, session-keyed through
    * `Artifacts` — and the manifest is computed by READING THE LAYOUT
    * BACK, so the hash gate covers the sink's contents, not just a plan:
    * a lost row, a doc in two shards, or a mis-bucketed offset all break
    * the manifest hash. The oracle replays the plain global cumsum
    * (bucketing is result-invisible, ShardsSpec proves bucketSize
    * invariance). */
  val ShardBudgetTokens = 4000L
  def mlExportShards(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.operators.TextOps.bpeTokenCount(col("text")).cast("long").as("t"))
    val n = docs.count() // metadata-cheap; sizes the prefix-sum buckets
    val bucketSize = math.max(256L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val layout = graft.operators.Artifacts.sharedPath(s"shards:$dir") { path =>
      graft.sources.Sources.writePartitioned(
        graft.operators.Shards.assignShards(docs, "doc_id", "t",
          ShardBudgetTokens, bucketSize), path, "shard")
    }
    // Read-back parity gate: hashing a torn layout (partially visible write,
    // external cleanup between write and read) would emit a silently-wrong
    // manifest — exactly the rows-match/hash-differ signature of
    // CORRECTNESS_r07's one red row. Fail loud instead. One count() over the
    // reduced layout: metadata-cheap next to the manifest aggregate itself.
    val back = s.read.parquet(layout)
    val nBack = back.count()
    require(nBack == n,
      s"shard layout read-back row count $nBack != assigned count $n " +
        s"(torn or externally-modified layout at $layout)")
    graft.operators.Shards.manifest(back)
  }

  // ---- oracle-checked training loop --------------------------------------
  // 5 full batch-SOM iterations, checkable against a generated DuckDB CTE
  // chain. Two determinism devices make cross-engine equality exact:
  //  - per-cell sums are rounded to 6 decimals and prototypes to 4 after
  //    every update, so both engines start each iteration from bit-identical
  //    prototypes (the ~1e-13 aggregation-order drift is quantized away);
  //  - the gaussian neighborhood weights enter the oracle as LITERALS
  //    computed once on the driver (no libm exp() divergence).
  val FitIters = 5
  private val FitTMax = 2.0; private val FitTMin = 0.5

  /** Neighborhood weight (cell k, cell j) of fit iteration `iter`. */
  private def fitWeight(iter: Int): (Int, Int) => Double = {
    val t = graft.som.Grid.temperature("exponential", iter, FitIters, FitTMax, FitTMin)
    (k, j) => graft.som.Grid.kernelWeight("gaussian",
      graft.som.Grid.cellDist(SomQueries.Width)(k, j), t)
  }

  private def fitWeights(iter: Int): Seq[(Int, Int, Double)] = {
    val w = fitWeight(iter)
    for (k <- 0 until SomQueries.K; j <- 0 until SomQueries.K) yield (k, j, w(k, j))
  }

  private def embFeatures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("features"))

  /** The deterministic 4-decimal init (embeddings vec_id < 9) both fit
    * forms start from. */
  private def initProtos(s: SparkSession, dir: String): Array[Vector] =
    SomQueries.protoVectors(s, dir, 4)

  /** The estimator run behind `som_fit5` and `som_fit_predict` over
    * [[embFeatures]]: a 3×3 map warm-started from [[initProtos]],
    * [[FitIters]] iterations with the weights of [[fitWeight]] (the
    * estimator's default exponential decay, gaussian kernel and rectangular
    * grid), sums rounded to 6 decimals and prototypes to 4, no early stop. */
  private def fit5Model(s: SparkSession, dir: String, emb: DataFrame): SOMModel = {
    val warm = new SOMModel("som_init", initProtos(s, dir)).setGrid(3, 3)
    new SOM().setHeight(3).setWidth(3)
      .setMaxIter(FitIters).setTMax(FitTMax).setTMin(FitTMin).setTol(0.0)
      .setSeed(42).setProtoDecimals(4).setSumDecimals(6)
      .setInitialModel(warm)
      .fit(emb)
  }

  /** Final prototypes after [[FitIters]] oracle-checked iterations:
    * (cell, dim, nv). */
  def somFit5(s: SparkSession, dir: String): DataFrame =
    SomQueries.cellRows(s, fit5Model(s, dir, embFeatures(s, dir)).prototypes.toSeq)

  /** ONLINE (mini-batch) SOM TRAINING as a stream — the reference's core
    * estimator meets the streaming discipline: the corpus arrives in
    * [[FitIters]] event-ordered slices (`vec_id mod FitIters`, staged
    * one file per micro-batch via [[StreamScratch.stageOrdered]]), and
    * each micro-batch applies ONE [[SOM.step]] — assign →
    * cell sums → kernel smoothing — using ONLY its slice, with the
    * iteration-indexed temperature schedule keyed on the deterministic
    * batch id. Model state is the K×d prototype matrix (bounded, never
    * data-sized); each arriving slice refines it without rescanning
    * history — the classic online-SOM deployment where yesterday's
    * model warm-starts today's data. A replayed batch is guarded by the
    * monotone batch-id check (the CDC txn-app-id discipline), so
    * at-least-once delivery cannot double-apply an update. Every
    * iterate is quantized exactly like [[somFit5]] (6-decimal sums, 4-decimal
    * prototypes), so DuckDB replays the ENTIRE five-slice training run
    * as one CTE chain and the final model itself is hash-gated —
    * SomStreamSpec additionally pins that the stream crossed one
    * micro-batch per slice. */
  def somFitStream(s: SparkSession, dir: String): DataFrame =
    SomQueries.cellRows(s, somFitStreamModel(s, dir).toSeq)

  /** The online fit itself: runs the slice-scheduled training stream and
    * returns the final K×d prototype matrix. */
  private def somFitStreamModel(s: SparkSession, dir: String): Array[Vector] =
    Scoped(s) { fork =>
      val root = StreamScratch.fresh("somfit")
      val ckpt = s"$root/ckpt"
      val pts = SomQueries.points(fork, dir)
      // immutable staged training slices cached per session (checkpoint
      // per-run fresh, so every slice still replays in order)
      val inDir = StreamScratch.stageOrderedShared(s"somfit_$FitIters:$dir") {
        (0 until FitIters).map(b =>
          pts.where(pmod(col("vec_id"), lit(FitIters)) === b))
      }
      var protos = initProtos(fork, dir).map(VectorWithNorm(_))
      var lastApplied = -1L
      val stream = fork.readStream.schema("vec_id LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > lastApplied) { // idempotent replay guard
            protos = SOM.step(SOM.points(batch, "v"), protos, fitWeight(batchId.toInt),
              sumDecimals = 6, protoDecimals = 4)._1
            lastApplied = batchId
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      protos.map(_.vector)
    }

  /** The ONLINE LIFECYCLE COMPOSED — train on a stream, then SERVE a
    * scoring stream with the trained model (`ann_serve_stream_live`'s
    * shape applied to the reference's own estimator): the model from
    * [[somFitStreamModel]]'s five-slice online run scores arriving
    * points micro-batch by micro-batch with the fully-codegen argmin
    * kernel ([[graft.som.SOMModel.transformNative]]'s expression — the
    * native `ArrayArgminSqDist` over the K×d prototypes, min-index
    * tie-break, no UDF, NO STATE: a scoring stream is stateless by
    * construction, so at 100 TB it scales
    * with executor count alone). Both halves sit under ONE DuckDB
    * oracle: the sliced training chain feeds an argmin CTE, so training
    * schedule, final model, and every served assignment are hash-gated
    * together. */
  def somPredictStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val protos = somFitStreamModel(fork, dir)
    val root = StreamScratch.fresh("sompredict")
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    SomQueries.points(fork, dir).repartition(3).write.parquet(inDir)
    val stream = fork.readStream.schema("vec_id LONG, v ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val bmu = graft.functions.ArrayVectorExpressions.argminSqDist(col("v"),
      graft.functions.ArrayArgminSqDist.flatten(protos.map(_.toArray).toSeq), protos(0).size)
    val q = stream
      .select(col("vec_id"), bmu.as("prediction"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    fork.read.schema("vec_id LONG, prediction INT").parquet(outDir)
  }

  /** Generated oracle: the same 5 iterations as one DuckDB CTE chain with
    * literal weight tables. */
  // `nv + 0` normalizes DuckDB's -0.0 to +0.0 (Spark's round never emits
  // -0.0); identity for every other value. See the som_update oracle note.
  def somFit5Oracle: String =
    fit5Chain + s"\nSELECT cell, dim, nv + 0 AS nv FROM p$FitIters"

  /** Oracle for the full Estimator→transformNative path: the fit5 chain's
    * final prototypes plus one argmin assignment CTE (row_number tie-break ==
    * min-index, same as the native `ArrayArgminSqDist` kernel). */
  def somFitPredictOracle: String =
    fit5Chain + s""",
      |df AS (
      |  SELECT px.vec_id, p$FitIters.cell,
      |    sum((px.x - p$FitIters.nv) * (px.x - p$FitIters.nv)) AS d2
      |  FROM px JOIN p$FitIters USING (dim) GROUP BY 1, 2)
      |SELECT vec_id, CAST(cell AS INT) AS prediction FROM
      |(SELECT vec_id, cell, row_number() OVER
      |   (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM df)
      |WHERE rn = 1""".stripMargin

  /** Oracle for the streaming mini-batch fit: the same 5-iteration chain,
    * but iteration `i`'s distance/assign/sum CTEs see ONLY slice
    * `vec_id % FitIters = i` — the whole training run, slice schedule
    * included, replayed relationally. */
  def somFitStreamOracle: String =
    fitChain(sliced = true) + s"\nSELECT cell, dim, nv + 0 AS nv FROM p$FitIters"

  /** Oracle for the composed online lifecycle: the sliced training chain's
    * final prototypes plus the argmin assignment CTE (the
    * somFitPredictOracle shape over the STREAMED model). */
  def somPredictStreamOracle: String =
    fitChain(sliced = true) + s""",
      |df AS (
      |  SELECT px.vec_id, p$FitIters.cell,
      |    sum((px.x - p$FitIters.nv) * (px.x - p$FitIters.nv)) AS d2
      |  FROM px JOIN p$FitIters USING (dim) GROUP BY 1, 2)
      |SELECT vec_id, CAST(cell AS INT) AS prediction FROM
      |(SELECT vec_id, cell, row_number() OVER
      |   (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM df)
      |WHERE rn = 1""".stripMargin

  /** The shared WITH chain: init p0 → 5 quantized iterations → p5. */
  private def fit5Chain: String = fitChain(sliced = false)

  private def fitChain(sliced: Boolean): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |px AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x
        |       FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM pts)),
        |p0 AS (SELECT CAST(vec_id AS INT) AS cell, dim, round(x, 4) AS nv
        |       FROM px WHERE vec_id < 9)""".stripMargin)
    for (iter <- 0 until FitIters) {
      val prev = if (iter == 0) "p0" else s"p$iter"
      val cur = s"p${iter + 1}"
      val wRows = fitWeights(iter)
        .map { case (k, j, w) => s"($k, $j, ${w}::DOUBLE)" }.mkString(", ")
      // sliced: iteration i's argmin candidates are slice i's points only
      val pxSrc =
        if (sliced) s"(SELECT * FROM px WHERE vec_id % $FitIters = $iter) px"
        else "px"
      sb.append(s""",
        |w$iter(k, j, w) AS (VALUES $wRows),
        |d$iter AS (
        |  SELECT px.vec_id, $prev.cell,
        |    sum((px.x - $prev.nv) * (px.x - $prev.nv)) AS d2
        |  FROM $pxSrc JOIN $prev USING (dim) GROUP BY 1, 2),
        |a$iter AS (
        |  SELECT vec_id, cell AS bmu FROM
        |  (SELECT vec_id, cell, row_number() OVER
        |     (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d$iter)
        |  WHERE rn = 1),
        |s$iter AS (
        |  SELECT a$iter.bmu, px.dim, round(sum(px.x), 6) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM a$iter JOIN px USING (vec_id) GROUP BY 1, 2),
        |$cur AS (
        |  SELECT CAST(w$iter.k AS INT) AS cell, s$iter.dim,
        |    round(sum(w$iter.w * s$iter.s) / sum(w$iter.w * s$iter.n), 4) AS nv
        |  FROM s$iter JOIN w$iter ON s$iter.bmu = w$iter.j GROUP BY 1, 2)""".stripMargin)
    }
    sb.toString
  }

  /** Per-language embedding centroids — the cross-modal feature aggregate a
    * pipeline computes per corpus slice (language, source, quality tier):
    * documents supply the slice label (language-ID heuristic), embeddings
    * the vectors; one shuffle join on the shared id, then a grouped
    * per-dimension mean under the DECIMAL-sum discipline (exact in both
    * engines, then one identical double division — no rounding needed on
    * the output). The exploded decimal formulation is the verifiability
    * tax; production would sum whole vectors per language (as
    * som_cell_stats does per cell) after the same join. */
  def mlLangCentroids(s: SparkSession, dir: String): DataFrame = {
    val pred = TextDedupQueries.textLangId(s, dir).select(col("doc_id"), col("pred"))
    SomQueries.points(s, dir)
      .join(pred, col("vec_id") === col("doc_id"))
      .select(col("pred").as("lang"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("lang"), col("dim"))
      .agg((round(sum(col("x").cast("decimal(38,18)")), 9).cast("double")
        / count(lit(1))).as("mu"))
  }

  /** Deterministic content-keyed train/test split — the reproducibility
    * primitive of every training-data pipeline: the split must be a pure
    * function of the example's identity (salted portable hash), never of
    * partitioning or row order, so re-runs, engines, and backfills agree
    * row-for-row. 80/20 by hash bucket. */
  def mlTrainTestSplit(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        when(graft.functions.VectorSql.md5Hash60(
          concat(lit("split:"), col("vec_id").cast("string"))) % 100 < 80, "train")
          .otherwise("test").as("split"))

  /** Hashed feature-space width for [[mlFeatureHash]] (the hashing-trick
    * dimensionality — fixed and vocabulary-independent by design). */
  val FhDims = 256

  /** FEATURE HASHING (the hashing trick) — the vocabulary-free featurizer
    * every large-scale text classifier/regressor front-ends with when a
    * fitted vocabulary is impossible (streaming corpora) or too large to
    * broadcast: token → dimension `h(tok) mod [[FhDims]]`, signed ±1 by an
    * independent hash (the signed variant that makes collision noise
    * zero-mean), per-doc sparse vector = sum of signs per dimension,
    * exact-zero cancellations dropped (sparse representation). NO fitted
    * state, NO shuffle to build a dictionary — one map pass plus the
    * (doc, dim)-keyed aggregate, which is the entire 100 TB story: the
    * featurizer is embarrassingly parallel and its width never grows with
    * the corpus. The gate aggregates the full-corpus featurization down
    * to the per-dimension profile (nnz / signed mass / max magnitude over
    * all [[FhDims]] dims — every doc's vector feeds it, nothing sampled),
    * keeping the oracle dump dimension-sized. Both hash lanes ride the
    * portable md5 kernel the oracle replays verbatim. */
  def mlFeatureHash(s: SparkSession, dir: String): DataFrame = {
    val md5 = graft.functions.VectorSql.md5Hash60 _
    val vecs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.operators.TextOps.tokensFast(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(md5(concat(lit("fh:"), col("tok"))), lit(FhDims)).cast("int").as("dim"),
        (md5(concat(lit("fs:"), col("tok"))) % 2 * 2 - 1).as("sgn"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("w"))
      .where(col("w") =!= 0)
    vecs.groupBy(col("dim"))
      .agg(count(lit(1)).as("nnz"), sum(col("w")).as("sum_w"),
        max(abs(col("w"))).as("max_abs_w"))
  }

  // ---- distributed OLS via normal equations (ml_linreg) ----
  // The formula STRINGS are shared verbatim between the Spark selectExpr
  // chain and the DuckDB oracle: identical expression trees over identical
  // inputs make the IEEE double arithmetic bit-identical, which is what
  // lets closed-form floating-point coefficients sit under the hash gate.
  private val LinRegDoubles =
    "cast(n as double) as dn, cast(sx1 as double) as d1, " +
      "cast(sx2 as double) as d2, cast(sx11 as double) as d11, " +
      "cast(sx12 as double) as d12, cast(sx22 as double) as d22, " +
      "cast(sy as double) as dy, cast(sx1y as double) as d1y, " +
      "cast(sx2y as double) as d2y, cast(syy as double) as dyy"
  private val LinRegDets = Seq(
    "dn*(d11*d22 - d12*d12) - d1*(d1*d22 - d12*d2) + d2*(d1*d12 - d11*d2) as det",
    "dy*(d11*d22 - d12*d12) - d1*(d1y*d22 - d12*d2y) + d2*(d1y*d12 - d11*d2y) as det0",
    "dn*(d1y*d22 - d12*d2y) - dy*(d1*d22 - d12*d2) + d2*(d1*d2y - d1y*d2) as det1",
    "dn*(d11*d2y - d1y*d12) - d1*(d1*d2y - d1y*d2) + dy*(d1*d12 - d11*d2) as det2")
  private val LinRegBetas = Seq(
    "det0/det as beta0", "det1/det as beta1", "det2/det as beta2")
  private val LinRegR2 =
    "1.0 - (dyy - ((det0/det)*dy + (det1/det)*d1y + (det2/det)*d2y)) / (dyy - dy*dy/dn) as r2"

  /** Distributed ORDINARY LEAST SQUARES — the regression member of the
    * fit family (k-means, SOM, NB, BPE, PQ are the others): predict an
    * order's revenue (whole dollars, exact floor of per-item integer
    * cents — never a float sum) from its lineitem count and summed
    * quantity. The 100 TB shape is normal equations: ONE
    * partial-combining aggregate collects the ten exact-integer moments
    * (Σx, Σxx', Σxy, Σy² — bigint throughout, no float
    * order-dependence), and the 3×3 solve is closed-form Cramer on the
    * driver-sized moment row. Coefficients and R² are IEEE doubles
    * computed by formula strings SHARED verbatim with the oracle, so
    * even the floating-point solve is hash-gated bit-for-bit. One fact
    * scan; the model never sees the data twice (R² comes from the same
    * moments — measured ≈0.9: quantity genuinely prices an order). */
  def mlLinReg(s: SparkSession, dir: String): DataFrame = {
    val feat = s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("x1"),
        expr("cast(sum(l_quantity) as bigint)").as("x2"),
        expr("sum(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)) DIV 100")
          .as("y"))
    feat.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(expr("x1 * x1")).as("sx11"), sum(expr("x1 * x2")).as("sx12"),
        sum(expr("x2 * x2")).as("sx22"),
        sum(col("y")).as("sy"),
        sum(expr("x1 * y")).as("sx1y"), sum(expr("x2 * y")).as("sx2y"),
        sum(expr("y * y")).as("syy"))
      .selectExpr(Seq("n") ++ LinRegDoubles.split(", "): _*)
      .selectExpr(Seq("*") ++ LinRegDets: _*)
      .selectExpr(Seq("n") ++ LinRegBetas ++ Seq(LinRegR2): _*)
  }

  /** DECISION-STUMP TRAINING as one aggregate — the depth-1 member of the
    * tree family, and the template for distributed histogram-based tree
    * training (every production GBM grows trees from exactly this shape:
    * feature-value histograms of (n, n_pos), cumulative split scan, exact
    * impurity argmin): predict `l_extendedprice > 30000` from the integer
    * quantity. The ENTIRE search runs in exact integers — per-side Gini
    * cost n·gini = (n² − pos² − neg²)/n is carried as the e4 fixed-point
    * `(10000·num) div n` (the fixed-point IS the objective, deterministic
    * on both engines, not an approximation of a float), the winning split
    * is the (cost, qty) total-order min, and training accuracy rides along
    * in exact ppm. One scan → value-cardinality histogram (≤50 rows); the
    * cumulative window is UNPARTITIONED but bounded by construction —
    * feature-value cardinality, the histogram-training property that makes
    * this scale (LightGBM's whole premise). Integer envelope: 10⁴·n² fits
    * bigint to ~10⁷ rows per side (the ×10 corpus); beyond that drop the
    * scale a digit. */
  def mlTreeStump(s: SparkSession, dir: String): DataFrame = {
    val h = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
      .groupBy(col("qty"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("qty"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = h.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
    h.withColumn("nl", sum(col("n")).over(w))
      .withColumn("posl", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .where(col("nn") - col("nl") > 0) // the max value can't split
      .select(col("qty"), col("nl"), col("posl"),
        (col("nn") - col("nl")).as("nr"),
        (col("pp") - col("posl")).as("posr"), col("nn"))
      .withColumn("cost_e4", expr(
        "(10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) div nl + " +
          "(10000 * (nr*nr - posr*posr - (nr-posr)*(nr-posr))) div nr"))
      .withColumn("acc_ppm", expr(
        "(1000000 * (greatest(posl, nl - posl) + greatest(posr, nr - posr))) div nn"))
      .orderBy(col("cost_e4"), col("qty")).limit(1)
      .select(col("qty").as("split_qty"), col("cost_e4"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        col("nr").as("n_right"), col("posr").as("pos_right"), col("acc_ppm"))
  }

  /** DEPTH-2 HISTOGRAM TREE — the production shape [[mlTreeStump]] is the
    * template for (every GBM grows trees level by level over feature-value
    * histograms; depth 2 is where the per-node CONDITIONAL histogram
    * machinery appears): root split on quantity (the stump's argmin,
    * rule verbatim), then each side searches BOTH features — quantity
    * again (a second threshold) and the e2-integer discount — for its
    * best second split. The key scale property: the JOINT (qty × disc)
    * value histogram has ≤ 50·11 cells, so ONE corpus scan trains the
    * whole tree — root marginal, side assignment, and every conditional
    * histogram are all derived from the same ≤550 broadcast-scale rows
    * (LightGBM's histogram-subtraction insight in dataflow form; a deeper
    * tree re-derives per-node histograms from the same joint table).
    * Exact integers end to end: the e4 fixed-point Gini cost IS the
    * objective ([[mlTreeStump]]'s discipline), winners are
    * (cost, feature, value) total-order minima per side, and the whole
    * tree's training accuracy rides along in exact ppm from the four
    * leaves. The cumulative windows are value-cardinality-bounded
    * (≤50 rows per side×feature partition). Integer envelope: 10⁴·n²
    * fits bigint to ~10⁷ rows per side — the ×10 corpus; drop the scale
    * a digit beyond. Spec brute-recomputes both argmins driver-side. */
  def mlTreeDepth2(s: SparkSession, dir: String): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .orderBy(col("qty"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the one corpus scan: joint value histogram, ≤550 cells
    val h = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as int)").as("disc"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
      .groupBy(col("qty"), col("disc"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(eager = true) // root marginal + both side searches
    // root = the stump argmin over the qty marginal
    val hq = h.groupBy(col("qty"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))
    val tot = hq.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
    val root = hq.withColumn("nl", sum(col("n")).over(wq))
      .withColumn("posl", sum(col("pos")).over(wq))
      .crossJoin(broadcast(tot))
      .where(col("nn") - col("nl") > 0)
      .withColumn("root_cost", expr(
        "(10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) div nl + " +
          "(10000 * ((nn-nl)*(nn-nl) - (pp-posl)*(pp-posl) " +
          "- ((nn-nl)-(pp-posl))*((nn-nl)-(pp-posl)))) div (nn-nl)"))
      .orderBy(col("root_cost"), col("qty")).limit(1)
      .select(col("qty").as("root_qty"), col("nn"))
    // per-side, per-feature conditional histograms (from the joint table,
    // no second data pass) — the two features unpivot into one search
    val sided = h.crossJoin(broadcast(root))
      .withColumn("side", when(col("qty") <= col("root_qty"), "L").otherwise("R"))
    val byFeat = sided.select(col("side"), lit("qty").as("feature"),
        col("qty").as("v"), col("n"), col("pos"), col("root_qty"), col("nn"))
      .unionByName(sided.select(col("side"), lit("disc").as("feature"),
        col("disc").as("v"), col("n"), col("pos"), col("root_qty"), col("nn")))
      .groupBy(col("side"), col("feature"), col("v"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"),
        max(col("root_qty")).as("root_qty"), max(col("nn")).as("nn"))
    val st = byFeat.groupBy(col("side"), col("feature"))
      .agg(sum(col("n")).as("ns"), sum(col("pos")).as("ps"))
    val wsf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("side"), col("feature")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cand = byFeat
      .withColumn("nl", sum(col("n")).over(wsf))
      .withColumn("posl", sum(col("pos")).over(wsf))
      .join(broadcast(st), Seq("side", "feature"))
      .where(col("ns") - col("nl") > 0)
      .withColumn("cost_e4", expr(
        "(10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) div nl + " +
          "(10000 * ((ns-nl)*(ns-nl) - (ps-posl)*(ps-posl) " +
          "- ((ns-nl)-(ps-posl))*((ns-nl)-(ps-posl)))) div (ns-nl)"))
    val win = cand.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("side"))
          .orderBy(col("cost_e4"), col("feature"), col("v"))))
      .where(col("rk") === 1)
      .select(col("side"), col("feature"), col("v").as("split_val"),
        col("cost_e4"), col("ns").as("n_side"), col("ps").as("pos_side"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        col("root_qty"), col("nn"))
    // the four leaves' majority hits -> whole-tree training accuracy
    val acc = win.agg(sum(expr(
      "greatest(pos_left, n_left - pos_left) + " +
        "greatest(pos_side - pos_left, (n_side - n_left) - (pos_side - pos_left))"))
      .as("hits"))
    win.crossJoin(broadcast(acc))
      .select(col("side"), col("feature"), col("split_val"), col("cost_e4"),
        col("n_side"), col("pos_side"), col("n_left"), col("pos_left"),
        col("root_qty"),
        expr("(1000000 * hits) div nn").as("tree_acc_ppm"))
  }

  /** GRADIENT-BOOSTED STUMPS over the joint histogram — the boosting
    * completion of the histogram-ML family ([[mlTreeDepth2]]'s r14
    * verdict ask): L2Boost on the 0/1 label, three rounds, every number
    * an exact integer. The key observation that keeps boosting
    * histogram-shaped: the model f(x) depends only on the features, so
    * within one (qty, disc) cell the residual takes exactly TWO values
    * (label 1: 1e4 − f; label 0: −f) — per-cell state (n, pos, f_e4) is
    * sufficient statistics for every round, and the corpus is scanned
    * ONCE (the ≤550-cell joint histogram); all three boosting rounds run
    * over that broadcast-scale table. Per round: per-feature residual
    * sums Σr = 1e4·pos − n·f, cumulative split scan, SSE-gain argmax
    *
    *   gain = (Σr_L)² div n_L + (Σr_R)² div n_R
    *
    * (the shared base term is feature-independent and drops out of the
    * argmax), winner by the (−gain, feature, v) total order, leaf values
    * the e4 floors Σr div n, and the cell model updates f ← f + leaf.
    * The e4 fixed-point IS the objective ([[mlTreeStump]]'s discipline);
    * DuckDB replays the whole three-round fit as a CTE chain
    * hash-identically (truncating `div` matches `//` including negative
    * leaves). Accuracy after each round rides along in exact ppm
    * (predict 1 iff f ≥ 5000); MlGbmSpec brute-recomputes every round's
    * argmax driver-side and pins ensemble accuracy ≥ the single stump's.
    * Integer envelope: |Σr_side| ≤ n·5·10⁴ keeps gain ≤ N·(5·10⁴)² —
    * inside bigint through the ×100 corpus (1.5·10¹⁸ at N = 6·10⁸);
    * squares pass through decimal(38) exactly (the chi2 spelling). The
    * only driver state is 3 winner rows + 3 accuracy scalars
    * (metadata-scale, the D9 ≤K-row-collect discipline). */
  def mlGbm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val h0 = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as int)").as("disc"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
      .groupBy(col("qty"), col("disc"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(eager = true) // the ONE corpus pass; rounds reuse it
    val totRow = h0.agg(sum(col("n")), sum(col("pos"))).head()
    val (nn, pp) = (totRow.getLong(0), totRow.getLong(1))
    val f0 = 10000L * pp / nn // e4 prior; Scala / == Spark div (both >= 0)
    var cells = h0.withColumn("f", lit(f0))
    val out = scala.collection.mutable.ListBuffer
      .empty[(Int, String, Int, Long, Long, Long, Long)]
    for (round <- 1 to 3) {
      cells = cells.localCheckpoint(eager = true) // ≤550 rows, two consumers
      val byFeat = cells.select(lit("qty").as("feature"), col("qty").as("v"),
          col("n"), col("pos"), col("f"))
        .unionByName(cells.select(lit("disc").as("feature"),
          col("disc").as("v"), col("n"), col("pos"), col("f")))
        .groupBy(col("feature"), col("v"))
        .agg(sum(col("n")).as("n"), sum(expr("10000 * pos - n * f")).as("sr"))
      val st = byFeat.groupBy(col("feature"))
        .agg(sum(col("n")).as("ns"), sum(col("sr")).as("srs"))
      val w = byFeat
        .withColumn("nl", sum(col("n")).over(wf))
        .withColumn("srl", sum(col("sr")).over(wf))
        .join(broadcast(st), Seq("feature"))
        .where(col("ns") - col("nl") > 0)
        .withColumn("nr", col("ns") - col("nl"))
        .withColumn("srr", col("srs") - col("srl"))
        .withColumn("gain", expr(
          "(cast(srl as decimal(19,0)) * cast(srl as decimal(19,0))) div nl + " +
            "(cast(srr as decimal(19,0)) * cast(srr as decimal(19,0))) div nr"))
        .orderBy(col("gain").desc, col("feature"), col("v")).limit(1)
        .selectExpr("feature", "v", "gain",
          "srl div nl as leaf_l", "srr div nr as leaf_r")
        .head()
      val (feat, v, gain, leafL, leafR) =
        (w.getString(0), w.getInt(1), w.getLong(2), w.getLong(3), w.getLong(4))
      cells = cells.withColumn("f", col("f") +
        (if (feat == "qty") when(col("qty") <= v, leafL).otherwise(leafR)
         else when(col("disc") <= v, leafL).otherwise(leafR)))
      val hits = cells.agg(sum(
        when(col("f") >= 5000, col("pos")).otherwise(col("n") - col("pos"))))
        .head().getLong(0)
      out += ((round, feat, v, gain, leafL, leafR, 1000000L * hits / nn))
    }
    out.toSeq.toDF("round", "feature", "split_v", "gain",
      "leaf_l_e4", "leaf_r_e4", "acc_ppm")
  }

  /** ISOTONIC CALIBRATION — the monotone-probability fit
    * ([[mlTreeStump]]'s sibling on the same histogram): calibrate
    * P(price > 30000 | quantity) to a NONDECREASING function of quantity,
    * the classifier-calibration standard (isotonic beats Platt when data
    * is plentiful) and the same pool-adjacent-violators solution every ML
    * library ships — computed here by the MINIMAX CLOSED FORM instead:
    *
    *   ŷ_k = max_{i ≤ k} min_{j ≥ k} mean(pos rate over bins i..j)
    *
    * which is PAV's exact solution. Everything stays integer: bin means
    * are e6 fixed-point of prefix-sum rationals, and because floor is
    * monotone it COMMUTES with min/max — so the e6 output is exactly
    * floor(1e6 · true isotonic value), identical on both engines, no
    * float division anywhere. The triple-index spelling is O(bins³) ROWS
    * over the value-cardinality histogram (≤50 bins → ≤125k tiny rows,
    * broadcast-joined) — bounded by construction at ANY corpus size; the
    * corpus itself is touched exactly once (the histogram scan). Spec
    * proves equality with a driver-side PAV run and monotonicity. */
  def mlIsotonic(s: SparkSession, dir: String): DataFrame = {
    val h = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
      .groupBy(col("qty"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("qty"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // prefix sums over the bounded histogram (the one legal unpartitioned
    // window: value-cardinality rows)
    val pre = h.withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("pos")).over(w))
      .localCheckpoint(eager = true) // three self-join consumers
    val lo = pre.select(col("qty").as("i"),
      (col("cn") - col("n")).as("n0"), (col("cp") - col("pos")).as("p0"))
    val hi = pre.select(col("qty").as("j"), col("cn").as("n1"), col("cp").as("p1"))
    val m = broadcast(lo).join(broadcast(hi), col("i") <= col("j"))
      .select(col("i"), col("j"),
        expr("(1000000 * (p1 - p0)) div (n1 - n0)").as("mean_ppm"))
    val ks = pre.select(col("qty").as("k"), col("n"), col("pos"))
    val inner = broadcast(m)
      .join(broadcast(ks), col("i") <= col("k") && col("j") >= col("k"))
      .groupBy(col("k"), col("n"), col("pos"), col("i"))
      .agg(min(col("mean_ppm")).as("mn"))
    inner.groupBy(col("k").as("qty"), col("n"), col("pos"))
      .agg(max(col("mn")).as("iso_ppm"))
  }

  /** CHI-SQUARED FEATURE SELECTION — the categorical-feature ranking every
    * feature pipeline runs before training (sklearn's chi2/SelectKBest;
    * deferred in r13 as decimal-width-fiddly, closed here with the
    * ml_ab_test squaring discipline): score quantity and the e2-integer
    * discount against the price>30000 label. For a 2×K table the statistic
    * collapses to
    *
    *   χ² = Σ_v D_v² / (n_v · P · (N−P)),   D_v = pos_v·N − n_v·P
    *
    * (both label columns share the same D_v² numerator). Exact integer
    * rendering: D_v fits bigint (≤ n_v·N ~ 10¹² at the ×10 corpus), D_v²
    * squares through decimal(19,0) → decimal(38,0) (exact on both
    * engines), the per-value term is the e0 floor `D² div n_v` (the floor
    * IS the spec'd statistic — each term ≤ n_v·N² ~ 7·10¹⁸, inside
    * bigint at the ×10 corpus; widen beyond), terms sum in decimal (the
    * sum can pass 2⁶³), and the result surfaces as exact milli-χ²
    * `(1000·S) div (P·(N−P))` ≤ 1000·N — bigint-safe. One scan → two
    * value-cardinality histograms (≤61 cells total); everything after is
    * broadcast-scale. df = K−1 rides along; the spec recomputes χ² in
    * floating point and pins the milli rendering within 1. */
  def mlChi2Select(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as int)").as("disc"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
    val feat = base.select(lit("qty").as("feature"), col("qty").as("v"), col("y"))
      .unionByName(base.select(lit("disc").as("feature"), col("disc").as("v"), col("y")))
    val h = feat.groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(eager = true) // two consumers: totals + the term join
    // (N, P) are feature-independent; computed once from one histogram
    val tot = broadcast(h.where(col("feature") === "qty")
      .agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp")))
    h.crossJoin(tot)
      .withColumn("d", expr("pos * nn - n * pp"))
      // exact floor(d²/n) carried in DECIMAL all the way (r15 ×100
      // widening, closing the r14 envelope note): `div` would return LONG
      // and overflow once a term passes 2⁶³ (possible at the ×100 corpus,
      // term ≤ n_v·N² ~ 2·10²⁶); instead subtract the remainder and divide
      // exactly — the numerator is divisible, so the decimal quotient is
      // the integer itself, no rounding anywhere. Envelope now matches the
      // oracle's int128: d² ≤ 1.3·10³⁵ < 10³⁸ through ×100.
      .withColumn("d2", expr(
        "cast(d as decimal(19,0)) * cast(d as decimal(19,0))"))
      .withColumn("term", expr(
        "cast((d2 - (d2 % cast(n as decimal(38,0)))) / cast(n as decimal(38,0)) " +
          "as decimal(38,0))"))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("term")).as("s"),
        max(col("nn")).as("nn"), max(col("pp")).as("pp"))
      .select(col("feature"), col("n_values"),
        (col("n_values") - 1).as("dof"),
        expr("(1000 * s) div (pp * (nn - pp))").as("chi2_milli"))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV — the distribution-shape companion to
    * [[mlAbTest]]'s mean test (a drift in variance or shape that leaves
    * means equal is invisible to z but not to KS; this is the standard
    * training-data drift detector): D = sup|F₁−F₂| over the exact integer
    * cents domain, carried UN-divided as d_num = max|c₁·n₂ − c₂·n₁| (the
    * sup over pooled support of the cross-multiplied CDF gap — no float
    * CDF anywhere), reported alongside its exact-ppm rendering and the
    * α=0.05 verdict D > 1.36·√((n₁+n₂)/(n₁n₂)) squared into the pure
    * integer comparison (100·d_num)² > 18496·(n₁+n₂)·n₁·n₂, computed in
    * DECIMAL so the squares stay exact (d_num ≤ n₁·n₂; decimal(19) covers
    * arms to ~3·10⁶ rows — the ×10 corpus; widen a digit beyond). The
    * cumulative window is unpartitioned but bounded by the CENTS-DOMAIN
    * cardinality (≤ ~37k distinct values at any corpus size — the value
    * histogram discipline), and the corpus is scanned once. */
  def mlKsTest(s: SparkSession, dir: String): DataFrame = {
    val h = s.read.parquet(s"$dir/events.parquet")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("x"))
      .groupBy(col("x"))
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("h1"),
        count(when(col("event_type") === "click", lit(1))).as("h2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    h.select(col("x"),
        sum(col("h1")).over(w).as("c1"), sum(col("h2")).over(w).as("c2"))
      .crossJoin(broadcast(h.agg(sum(col("h1")).as("n1"), sum(col("h2")).as("n2"))))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
      .withColumn("d_ppm", expr("(1000000 * d_num) div (n1 * n2)"))
      // 10⁴·d² spelled (100·d)² in decimal(19,0) operands: Spark caps the
      // nominal 19+19+1 = 39-digit product at decimal(38), which only loses
      // exactness past 10³⁸ — and 100·d_num ≤ 100·n₁·n₂ ~ 10¹⁵ at the ×10
      // corpus, so the cap never bites; decimal(19) (vs the tighter 15)
      // buys the same headroom the d_num envelope above documents
      .withColumn("significant", expr(
        "cast(cast(100 * d_num as decimal(19,0))" +
          " * cast(100 * d_num as decimal(19,0)) >" +
          " cast(18496 as decimal(6,0)) * cast(n1 + n2 as decimal(8,0))" +
          " * cast(n1 as decimal(8,0)) * cast(n2 as decimal(8,0)) as int)"))
      .select(col("n1"), col("n2"), col("d_num"), col("d_ppm"), col("significant"))
  }

  /** EXACT ROC AUC — the threshold-free quality measure for
    * [[mlTreeStump]]'s score (quantity ranking price>30000; these
    * synthetic columns are INDEPENDENT, so the measured AUC sits at the
    * 0.5 null — the honest negative control, [[mlAbTest]]'s discipline;
    * the exact statistic is what's gated), completing
    * the histogram-ML family (stump = one split, isotonic = calibrated
    * probabilities, KS = distribution drift, AUC = ranking power): by the
    * Mann–Whitney identity AUC = U/(n₁n₂) with midrank tie handling,
    * computed over the SAME value-cardinality histogram in DOUBLED
    * integer units so ties never leave the integers:
    *
    *   U₂ = Σ_v pos_v · (2·negs_below(v) + neg_v)      (ties count ½·2)
    *   auc_ppm = (5·10⁵·U₂) div (n₁·n₂)   (the ½ folded into the scale)
    *
    * One corpus scan → ≤50-row histogram → prefix sums on the bounded
    * unpartitioned window. U₂ ≤ 2·n₁·n₂ ~ 10¹³ at the ×10 corpus —
    * bigint-safe (5·10⁵·U₂ ≤ 7·10¹⁸ at the ×10 corpus); drop the scale a digit beyond. */
  def mlAuc(s: SparkSession, dir: String): DataFrame = {
    val h = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("int").as("qty"),
        (col("l_extendedprice") > 30000).cast("long").as("y"))
      .groupBy(col("qty"))
      .agg(count(when(col("y") === 1, lit(1))).as("pos"),
        count(when(col("y") === 0, lit(1))).as("neg"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("qty"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    h.select(col("pos"), col("neg"),
        (sum(col("neg")).over(w) - col("neg")).as("neg_below"))
      .agg(sum(col("pos")).as("n1"), sum(col("neg")).as("n2"),
        sum(col("pos") * (lit(2L) * col("neg_below") + col("neg"))).as("u2"))
      .withColumn("auc_ppm", expr("(500000 * u2) div (n1 * n2)"))
  }

  /** Bootstrap replicate count for [[mlBootstrapCi]]. */
  val BootB = 32

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL — the distributed-CI standard
    * (resampling n rows WITH replacement needs global coordination;
    * giving each row an independent Poisson(1) weight per replicate
    * needs none — the large-n limit of the multinomial, and what
    * production A/B platforms actually run): a 90% CI for the mean
    * purchase value. Each (row, replicate) draws its weight from the
    * seeded md5 coin mapped through the Poisson(1) pmf QUANTIZED to
    * 1e4 cells (3679/3679/1839/613/153/37 for w=0..5 — the quantization
    * IS the spec'd mechanism, deterministic on both engines, so the
    * whole resample replays in SQL). Replicate means are exact floor
    * cents; the CI is the 2nd/31st order statistic of the B=32 sorted
    * means. Cost: one scan exploded ×B with map-side-combining partial
    * sums into 2·B cells — no shuffle beyond the B-row aggregate, the
    * reason this shape scales where true resampling does not. */
  def mlBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val p = s.read.parquet(s"$dir/events.parquet")
      .where(col("event_type") === "purchase")
      .select(col("event_id"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
    val reps = p.withColumn("b", explode(sequence(lit(0), lit(BootB - 1))))
      .withColumn("h", graft.functions.VectorSql.md5Hash60(
        concat(lit("boot:"), col("b").cast("string"), lit(":"),
          col("event_id").cast("string"))) % 10000)
      .withColumn("w", expr(
        "CASE WHEN h < 3679 THEN 0L WHEN h < 7358 THEN 1L WHEN h < 9197 THEN 2L " +
          "WHEN h < 9810 THEN 3L WHEN h < 9963 THEN 4L ELSE 5L END"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("nb"), sum(expr("w * cents")).as("sb"))
      .select(expr("sb div nb").as("m"))
    val ranked = reps.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(
        col("m")))) // B rows — bounded by construction
    val ci = ranked.agg(
      max(when(col("rk") === 2, col("m"))).as("ci_lo_cents"),
      max(when(col("rk") === BootB - 1, col("m"))).as("ci_hi_cents"))
    p.agg(count(lit(1)).as("n"), expr("sum(cents) div count(1)").as("mean_cents"))
      .crossJoin(broadcast(ci))
  }

  /** Randomization-test replicate count for [[mlPermTest]]. */
  val PermB = 32

  /** RANDOMIZATION TEST — the assumption-free companion completing the
    * exact-inference family ([[mlAbTest]] = parametric z, [[mlKsTest]] =
    * shape, [[mlBootstrapCi]] = uncertainty, this = significance without
    * ANY distributional assumption): does shuffling the click/purchase
    * labels kill the observed mean gap? Each of B=[[PermB]] replicates
    * reassigns every row's arm by an independent seeded md5 coin (the
    * Bernoulli-randomization variant of the permutation test — arm sizes
    * vary binomially rather than being held fixed, the standard
    * large-sample relaxation, and the one that needs no global shuffle),
    * the statistic is the |floor-ppm mean difference| (the floor IS the
    * spec'd statistic, deterministic on both engines), and the p-value
    * numerator counts replicates at or beyond the observed gap. One scan
    * exploded ×B, conditional partials into B cells — the bootstrap's
    * cost shape. All integers end to end. */
  def mlPermTest(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/events.parquet")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
    val obs = e.agg(
      expr("(1000000 * sum(if(event_type = 'purchase', cents, 0L))) div " +
        "sum(cast(event_type = 'purchase' as bigint)) - " +
        "(1000000 * sum(if(event_type = 'click', cents, 0L))) div " +
        "sum(cast(event_type = 'click' as bigint))").as("diff_ppm"))
      .select(abs(col("diff_ppm")).as("obs_abs_ppm"))
    val reps = e.withColumn("b", explode(sequence(lit(0), lit(PermB - 1))))
      .withColumn("arm", (graft.functions.VectorSql.md5Hash60(
        concat(lit("perm:"), col("b").cast("string"), lit(":"),
          col("event_id").cast("string"))) % 2).cast("int"))
      .groupBy(col("b"))
      .agg(expr("(1000000 * sum(if(arm = 1, cents, 0L))) div " +
        "sum(cast(arm = 1 as bigint)) - " +
        "(1000000 * sum(if(arm = 0, cents, 0L))) div " +
        "sum(cast(arm = 0 as bigint))").as("d"))
      .select(abs(col("d")).as("ad"))
    reps.crossJoin(broadcast(obs))
      .agg(max(col("obs_abs_ppm")).as("obs_abs_ppm"),
        sum((col("ad") >= col("obs_abs_ppm")).cast("long")).as("n_ge"))
      .withColumn("b_total", lit(PermB.toLong))
      .withColumn("p_pct", expr("(100 * n_ge) div b_total"))
  }

  // ---- two-sample test (ml_ab_test): same shared-formula discipline ----
  private val AbDoubles =
    "cast(n1 as double) as dn1, cast(s1 as double) as ds1, " +
      "cast(ss1 as double) as dss1, cast(n2 as double) as dn2, " +
      "cast(s2 as double) as ds2, cast(ss2 as double) as dss2"
  private val AbZ2 =
    "((ds1/dn1 - ds2/dn2) * (ds1/dn1 - ds2/dn2)) / " +
      "((dss1/dn1 - (ds1/dn1)*(ds1/dn1))/dn1 + (dss2/dn2 - (ds2/dn2)*(ds2/dn2))/dn2) as z2"

  /** TWO-SAMPLE TEST (Welch z) — the A/B-experiment readout: does the
    * 'purchase' population's value differ from 'click's? Exact integer
    * cents moments (n, Σx as bigint; Σx² as DECIMAL(38,0) — bigint x²
    * would wrap silently under non-ANSI Spark while DuckDB raises, so
    * both engines square through decimal(19,0) and stay exact and
    * overflow-consistent; one conditional aggregate over one scan), then
    * the z² statistic as IEEE doubles computed by a
    * formula string SHARED VERBATIM with the oracle ([[mlLinReg]]'s
    * discipline), so the statistic AND the z² > 3.841 significance
    * verdict (the χ²₁ 95% cut) hash-gate bit-for-bit. Population
    * variances (the z form — at corpus n the Welch-t correction is
    * noise); constant-size output at any scale. */
  def mlAbTest(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("x"))
      .agg(
        sum(expr("cast(event_type = 'purchase' as bigint)")).as("n1"),
        sum(expr("if(event_type = 'purchase', x, 0L)")).as("s1"),
        // Σx² accumulates as DECIMAL(38,0): x*x over BIGINT cents would wrap
        // silently under non-ANSI Spark while the DuckDB oracle raises —
        // decimal(19,0)² = decimal(38,0) is exact and overflow-consistent
        sum(expr("if(event_type = 'purchase', " +
          "cast(x as decimal(19,0)) * cast(x as decimal(19,0)), " +
          "cast(0 as decimal(38,0)))")).as("ss1"),
        sum(expr("cast(event_type = 'click' as bigint)")).as("n2"),
        sum(expr("if(event_type = 'click', x, 0L)")).as("s2"),
        sum(expr("if(event_type = 'click', " +
          "cast(x as decimal(19,0)) * cast(x as decimal(19,0)), " +
          "cast(0 as decimal(38,0)))")).as("ss2"))
      .selectExpr(Seq("n1", "s1", "ss1", "n2", "s2", "ss2") ++
        AbDoubles.split(", "): _*)
      // Σx² surfaces as its DOUBLE rendering (decimal output columns are
      // driver-hash-red; the z² arithmetic uses the same cast anyway)
      .selectExpr("n1", "s1", "dss1 as ss1", "n2", "s2", "dss2 as ss2", AbZ2)
      .withColumn("significant", expr("cast(z2 > 3.841 as int)"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_linreg" -> mlLinReg _,
    "ml_ab_test" -> mlAbTest _,
    "ml_tree_stump" -> mlTreeStump _,
    "ml_tree_depth2" -> mlTreeDepth2 _,
    "ml_chi2_select" -> mlChi2Select _,
    "ml_gbm" -> mlGbm _,
    "ml_isotonic" -> mlIsotonic _,
    "ml_ks_test" -> mlKsTest _,
    "ml_auc" -> mlAuc _,
    "ml_bootstrap_ci" -> mlBootstrapCi _,
    "ml_perm_test" -> mlPermTest _,
    "ml_feature_hash" -> mlFeatureHash _,
    "som_fit_predict" -> somFitPredict _,
    "som_fit5" -> somFit5 _,
    "som_fit_stream" -> somFitStream _,
    "som_predict_stream" -> somPredictStream _,
    "ml_standardize" -> mlStandardize _,
    "ml_quantize_int8" -> mlQuantizeInt8 _,
    "ml_train_test_split" -> mlTrainTestSplit _,
    "ml_weighted_sample" -> mlWeightedSample _,
    "ml_norm_outliers" -> mlNormOutliers _,
    "ml_lang_centroids" -> mlLangCentroids _,
    "ml_domain_mixture" -> mlDomainMixture _,
    "ml_export_shards" -> mlExportShards _,
    "ml_top_direction" -> mlTopDirection _,
  )

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** One boosting round of the [[mlGbm]] oracle: residual sums per
    * (feature, value) from h{r−1}, cumulative split scan, SSE-gain argmax
    * by the (−gain, feature, v) total order, cell-model update, accuracy.
    * HUGEINT intermediates (never output columns); `//` matches Spark's
    * `div` including negative leaf values (both truncate toward zero).
    * Multiply-referenced CTEs are MATERIALIZED (the beam-chain lesson:
    * DuckDB inlines by default and re-evaluates the prefix per reference). */
  private def gbmRoundSql(r: Int): String =
    s"""c$r AS MATERIALIZED (
       |  SELECT feature, v, CAST(sum(n) AS BIGINT) AS n,
       |    CAST(sum(10000 * pos - n * f) AS BIGINT) AS sr
       |  FROM (SELECT 'qty' AS feature, qty AS v, n, pos, f FROM h${r - 1}
       |        UNION ALL SELECT 'disc', disc, n, pos, f FROM h${r - 1})
       |  GROUP BY 1, 2),
       |w$r AS MATERIALIZED (
       |  SELECT feature, v,
       |    CAST(sum(n) OVER win AS BIGINT) AS nl,
       |    CAST(sum(sr) OVER win AS BIGINT) AS srl,
       |    CAST(sum(n) OVER feat AS BIGINT) AS ns,
       |    CAST(sum(sr) OVER feat AS BIGINT) AS srs
       |  FROM c$r
       |  WINDOW win AS (PARTITION BY feature ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         feat AS (PARTITION BY feature)),
       |win$r AS MATERIALIZED (
       |  SELECT feature, v,
       |    CAST((CAST(srl AS HUGEINT) * srl) // nl
       |       + (CAST(srs - srl AS HUGEINT) * (srs - srl)) // (ns - nl)
       |      AS BIGINT) AS gain,
       |    CAST(srl // nl AS BIGINT) AS leaf_l,
       |    CAST((srs - srl) // (ns - nl) AS BIGINT) AS leaf_r
       |  FROM w$r WHERE ns - nl > 0
       |  ORDER BY gain DESC, feature, v LIMIT 1),
       |h$r AS MATERIALIZED (
       |  SELECT qty, disc, n, pos,
       |    f + CASE WHEN w.feature = 'qty'
       |             THEN CASE WHEN qty <= w.v THEN w.leaf_l ELSE w.leaf_r END
       |             ELSE CASE WHEN disc <= w.v THEN w.leaf_l ELSE w.leaf_r END
       |        END AS f
       |  FROM h${r - 1} CROSS JOIN win$r w),
       |a$r AS (SELECT CAST((1000000 *
       |    sum(CASE WHEN f >= 5000 THEN pos ELSE n - pos END))
       |    // (SELECT nn FROM tot) AS BIGINT) AS acc_ppm FROM h$r)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the identical histogram → cumulative scan → exact-integer Gini
    // argmin; fixed-point e4 cost and the (cost, qty) total-order cut
    "ml_tree_stump" ->
      """WITH h AS (SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS pp FROM h),
        |cum AS (SELECT qty,
        |    CAST(sum(n) OVER w AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER w AS BIGINT) AS posl, nn, pp
        |  FROM h CROSS JOIN tot
        |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cand AS (SELECT qty, nl, posl, nn - nl AS nr, pp - posl AS posr, nn
        |  FROM cum WHERE nn - nl > 0),
        |cost AS (SELECT qty, nl, posl, nr, posr, nn,
        |    (10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) // nl
        |    + (10000 * (nr*nr - posr*posr - (nr-posr)*(nr-posr))) // nr AS cost_e4
        |  FROM cand)
        |SELECT qty AS split_qty, CAST(cost_e4 AS BIGINT) AS cost_e4,
        |  nl AS n_left, posl AS pos_left, nr AS n_right, posr AS pos_right,
        |  CAST((1000000 * (greatest(posl, nl - posl) + greatest(posr, nr - posr))) // nn
        |    AS BIGINT) AS acc_ppm
        |FROM cost ORDER BY cost_e4, qty LIMIT 1""".stripMargin,
    // the identical per-value D = pos*N - n*P numerators squared exactly
    // (HUGEINT intermediates here, decimal(19)^2 on Spark), the same e0
    // term floors, the same milli rendering
    "ml_chi2_select" ->
      """WITH base AS (SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS INT) AS disc,
        |    CAST(l_extendedprice > 30000 AS BIGINT) AS y
        |  FROM lineitem),
        |feat AS (SELECT 'qty' AS feature, qty AS v, y FROM base
        |  UNION ALL SELECT 'disc' AS feature, disc AS v, y FROM base),
        |h AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM feat GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS pp
        |  FROM h WHERE feature = 'qty'),
        |terms AS (SELECT feature,
        |    (CAST(pos * nn - n * pp AS HUGEINT)
        |      * CAST(pos * nn - n * pp AS HUGEINT)) // n AS term
        |  FROM h CROSS JOIN tot),
        |s AS (SELECT feature, CAST(count(*) AS BIGINT) AS n_values,
        |    sum(term) AS s FROM terms GROUP BY 1)
        |SELECT feature, n_values, CAST(n_values - 1 AS BIGINT) AS dof,
        |  CAST((1000 * s) // (CAST(pp AS HUGEINT) * (nn - pp)) AS BIGINT) AS chi2_milli
        |FROM s CROSS JOIN tot""".stripMargin,
    // the identical three-round L2Boost fit as a CTE chain: same joint
    // histogram, same residual encoding, same argmax total order, same
    // truncating integer divisions — hash-identical winner rows
    "ml_gbm" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT CAST(l_quantity AS INT) AS qty,
         |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS INT) AS disc,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pos
         |  FROM lineitem GROUP BY 1, 2),
         |tot AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |  CAST(sum(pos) AS BIGINT) AS pp FROM base),
         |h0 AS MATERIALIZED (SELECT qty, disc, n, pos,
         |  CAST((10000 * (SELECT pp FROM tot)) // (SELECT nn FROM tot)
         |    AS BIGINT) AS f FROM base),
         |${gbmRoundSql(1)},
         |${gbmRoundSql(2)},
         |${gbmRoundSql(3)}
         |SELECT 1 AS round, feature, v AS split_v, gain,
         |  leaf_l AS leaf_l_e4, leaf_r AS leaf_r_e4,
         |  (SELECT acc_ppm FROM a1) AS acc_ppm FROM win1
         |UNION ALL SELECT 2, feature, v, gain, leaf_l, leaf_r,
         |  (SELECT acc_ppm FROM a2) FROM win2
         |UNION ALL SELECT 3, feature, v, gain, leaf_l, leaf_r,
         |  (SELECT acc_ppm FROM a3) FROM win3""".stripMargin,
    // the identical joint histogram -> root argmin -> per-side, per-feature
    // conditional search, winners by the same (cost, feature, value) total
    // order, leaves folded to the same exact-ppm accuracy
    "ml_tree_depth2" ->
      """WITH h AS (SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS INT) AS disc,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem GROUP BY 1, 2),
        |hq AS (SELECT qty, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS pos FROM h GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS pp FROM hq),
        |cum AS (SELECT qty, CAST(sum(n) OVER w AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER w AS BIGINT) AS posl, nn, pp
        |  FROM hq CROSS JOIN tot
        |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |root AS (SELECT qty AS root_qty, nn FROM (
        |  SELECT qty, nn,
        |    (10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) // nl
        |    + (10000 * ((nn-nl)*(nn-nl) - (pp-posl)*(pp-posl)
        |       - ((nn-nl)-(pp-posl))*((nn-nl)-(pp-posl)))) // (nn-nl) AS root_cost
        |  FROM cum WHERE nn - nl > 0 ORDER BY root_cost, qty LIMIT 1)),
        |sided AS (SELECT CASE WHEN h.qty <= r.root_qty THEN 'L' ELSE 'R' END AS side,
        |    h.qty, h.disc, h.n, h.pos, r.root_qty, r.nn
        |  FROM h CROSS JOIN root r),
        |feat AS (SELECT side, 'qty' AS feature, qty AS v, n, pos, root_qty, nn FROM sided
        |  UNION ALL
        |  SELECT side, 'disc' AS feature, disc AS v, n, pos, root_qty, nn FROM sided),
        |fh AS (SELECT side, feature, v, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS pos,
        |    max(root_qty) AS root_qty, max(nn) AS nn
        |  FROM feat GROUP BY 1, 2, 3),
        |st AS (SELECT side, feature, CAST(sum(n) AS BIGINT) AS ns,
        |    CAST(sum(pos) AS BIGINT) AS ps FROM fh GROUP BY 1, 2),
        |c2 AS (SELECT fh.side, fh.feature, fh.v,
        |    CAST(sum(fh.n) OVER w AS BIGINT) AS nl,
        |    CAST(sum(fh.pos) OVER w AS BIGINT) AS posl,
        |    st.ns, st.ps, fh.root_qty, fh.nn
        |  FROM fh JOIN st ON fh.side = st.side AND fh.feature = st.feature
        |  WINDOW w AS (PARTITION BY fh.side, fh.feature ORDER BY fh.v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cost AS (SELECT side, feature, v, nl, posl, ns, ps, root_qty, nn,
        |    (10000 * (nl*nl - posl*posl - (nl-posl)*(nl-posl))) // nl
        |    + (10000 * ((ns-nl)*(ns-nl) - (ps-posl)*(ps-posl)
        |       - ((ns-nl)-(ps-posl))*((ns-nl)-(ps-posl)))) // (ns-nl) AS cost_e4
        |  FROM c2 WHERE ns - nl > 0),
        |best AS (SELECT *, row_number() OVER (PARTITION BY side
        |    ORDER BY cost_e4, feature, v) AS rk FROM cost),
        |win AS (SELECT side, feature, v AS split_val, cost_e4, ns AS n_side,
        |    ps AS pos_side, nl AS n_left, posl AS pos_left, root_qty, nn
        |  FROM best WHERE rk = 1),
        |acc AS (SELECT CAST(sum(greatest(pos_left, n_left - pos_left)
        |    + greatest(pos_side - pos_left,
        |        (n_side - n_left) - (pos_side - pos_left))) AS BIGINT) AS hits
        |  FROM win)
        |SELECT side, feature, split_val, CAST(cost_e4 AS BIGINT) AS cost_e4,
        |  n_side, pos_side, n_left, pos_left, root_qty,
        |  CAST((1000000 * acc.hits) // nn AS BIGINT) AS tree_acc_ppm
        |FROM win CROSS JOIN acc""".stripMargin,
    // the identical minimax closed form over the identical histogram; the
    // e6 floor commutes with min/max so both engines emit the same integers
    "ml_isotonic" ->
      """WITH h AS (SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem GROUP BY 1),
        |pre AS (SELECT qty, n, pos,
        |    CAST(sum(n) OVER w AS BIGINT) AS cn,
        |    CAST(sum(pos) OVER w AS BIGINT) AS cp
        |  FROM h
        |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT lo.qty AS i, hi.qty AS j,
        |    (1000000 * (hi.cp - (lo.cp - lo.pos))) // (hi.cn - (lo.cn - lo.n)) AS mean_ppm
        |  FROM pre lo JOIN pre hi ON lo.qty <= hi.qty),
        |inner_min AS (SELECT k.qty AS k, k.n, k.pos, m.i,
        |    CAST(min(m.mean_ppm) AS BIGINT) AS mn
        |  FROM m JOIN pre k ON m.i <= k.qty AND m.j >= k.qty
        |  GROUP BY 1, 2, 3, 4)
        |SELECT k AS qty, n, pos, CAST(max(mn) AS BIGINT) AS iso_ppm
        |FROM inner_min GROUP BY 1, 2, 3""".stripMargin,
    // the identical seeded coin reassignments, floor-ppm statistic, and
    // at-or-beyond count
    "ml_perm_test" ->
      s"""WITH e AS (SELECT event_id, event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |obs AS (SELECT abs(
         |    (1000000 * CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT))
         |      // CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         |    - (1000000 * CAST(sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS BIGINT))
         |      // CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         |  ) AS obs_abs_ppm FROM e),
         |reps AS (SELECT b.b,
         |    CAST(('0x' || substr(md5('perm:' || b.b || ':' || event_id), 1, 15))::BIGINT
         |      % 2 AS INT) AS arm, cents
         |  FROM e CROSS JOIN range(${PermB}) AS b(b)),
         |ds AS (SELECT abs(
         |    (1000000 * CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT))
         |      // CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    - (1000000 * CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT))
         |      // CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |  ) AS ad FROM reps GROUP BY b)
         |SELECT CAST(max(obs.obs_abs_ppm) AS BIGINT) AS obs_abs_ppm,
         |  CAST(sum(CASE WHEN ad >= obs.obs_abs_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
         |  CAST(${PermB} AS BIGINT) AS b_total,
         |  CAST((100 * sum(CASE WHEN ad >= obs.obs_abs_ppm THEN 1 ELSE 0 END))
         |    // ${PermB} AS BIGINT) AS p_pct
         |FROM ds CROSS JOIN obs""".stripMargin,
    // the identical seeded Poisson weights, replicate means, and 2nd/31st
    // order-statistic cut — the whole resample replayed
    "ml_bootstrap_ci" ->
      s"""WITH p AS (SELECT event_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |reps AS (SELECT b.b,
         |    ('0x' || substr(md5('boot:' || b.b || ':' || event_id), 1, 15))::BIGINT
         |      % 10000 AS h, cents
         |  FROM p CROSS JOIN range(${BootB}) AS b(b)),
         |wts AS (SELECT b, cents,
         |    CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1 WHEN h < 9197 THEN 2
         |         WHEN h < 9810 THEN 3 WHEN h < 9963 THEN 4 ELSE 5 END AS w
         |  FROM reps),
         |means AS (SELECT CAST(sum(w * cents) AS BIGINT) // CAST(sum(w) AS BIGINT) AS m
         |  FROM wts GROUP BY b),
         |ranked AS (SELECT m, row_number() OVER (ORDER BY m) AS rk FROM means),
         |ci AS (SELECT max(CASE WHEN rk = 2 THEN m END) AS ci_lo_cents,
         |    max(CASE WHEN rk = ${BootB - 1} THEN m END) AS ci_hi_cents FROM ranked)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cents,
         |  ci.ci_lo_cents, ci.ci_hi_cents
         |FROM p CROSS JOIN ci GROUP BY ci.ci_lo_cents, ci.ci_hi_cents""".stripMargin,
    // the identical histogram → doubled-unit Mann-Whitney U with midrank
    // ties → exact-ppm AUC
    "ml_auc" ->
      """WITH h AS (SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT pos, neg,
        |    CAST(sum(neg) OVER w - neg AS BIGINT) AS neg_below
        |  FROM h
        |  WINDOW w AS (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(neg) AS BIGINT) AS n2,
        |    CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS u2 FROM c)
        |SELECT n1, n2, u2,
        |  CAST((500000 * u2) // (n1 * n2) AS BIGINT) AS auc_ppm
        |FROM t""".stripMargin,
    // the identical cents histogram → cumulative CDFs → cross-multiplied
    // sup gap; the significance cut is the same exact-integer comparison —
    // int128 (HUGEINT, intermediate-only) on DuckDB, decimal(38) products
    // on Spark: both are exact, so the verdict bit cannot diverge
    "ml_ks_test" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |h AS (SELECT x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS h2
        |  FROM e GROUP BY 1),
        |c AS (SELECT x, CAST(sum(h1) OVER w AS BIGINT) AS c1,
        |    CAST(sum(h2) OVER w AS BIGINT) AS c2
        |  FROM h
        |  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(h1) AS BIGINT) AS n1, CAST(sum(h2) AS BIGINT) AS n2 FROM h),
        |d AS (SELECT n1, n2, CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num
        |  FROM c CROSS JOIN t GROUP BY 1, 2)
        |SELECT n1, n2, d_num,
        |  CAST((1000000 * d_num) // (n1 * n2) AS BIGINT) AS d_ppm,
        |  CAST(CAST(100 * d_num AS HUGEINT) * CAST(100 * d_num AS HUGEINT) >
        |    CAST(18496 AS HUGEINT) * CAST(n1 + n2 AS HUGEINT)
        |      * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS INT)
        |    AS significant
        |FROM d""".stripMargin,
    // same conditional moment aggregate, same verbatim-shared z² formula
    "ml_ab_test" ->
      s"""WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN x ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
        |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS ss1,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN x ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(sum(CASE WHEN event_type = 'click'
        |    THEN CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
        |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS ss2
        |  FROM e),
        |d AS (SELECT n1, s1, ss1, n2, s2, ss2, $AbDoubles FROM m),
        |z AS (SELECT n1, s1, dss1 AS ss1, n2, s2, dss2 AS ss2, $AbZ2 FROM d)
        |SELECT n1, s1, ss1, n2, s2, ss2, z2,
        |  CAST(z2 > 3.841 AS INT) AS significant
        |FROM z""".stripMargin,
    // the identical moment aggregate and the VERBATIM-shared Cramer/R²
    // formula strings — the float solve is bit-identical by construction
    "ml_linreg" ->
      s"""WITH feat AS (
        |  SELECT CAST(count(*) AS BIGINT) AS x1,
        |         CAST(sum(l_quantity) AS BIGINT) AS x2,
        |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) // 100 AS y
        |  FROM lineitem GROUP BY l_orderkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(x1) AS sx1, sum(x2) AS sx2, sum(x1*x1) AS sx11,
        |  sum(x1*x2) AS sx12, sum(x2*x2) AS sx22, sum(y) AS sy,
        |  sum(x1*y) AS sx1y, sum(x2*y) AS sx2y, sum(y*y) AS syy FROM feat),
        |d AS (SELECT n, $LinRegDoubles FROM m),
        |dd AS (SELECT *, ${LinRegDets.mkString(", ")} FROM d)
        |SELECT n, ${LinRegBetas.mkString(", ")}, $LinRegR2 FROM dd""".stripMargin,
    // both hash lanes replayed on the portable md5 kernel; sign mapping
    // h%2=0 → −1 mirrors Spark's `% 2 * 2 - 1`; zero-cancelled entries
    // dropped BEFORE the profile (the sparse-representation contract)
    "ml_feature_hash" ->
      s"""WITH ${graft.queries.TextDedupQueries.toksCte},
         |tf AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |h AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('fh:' || tok), 1, 15))::BIGINT % $FhDims AS INT) AS dim,
         |    CASE WHEN ('0x' || substr(md5('fs:' || tok), 1, 15))::BIGINT % 2 = 0
         |      THEN -1 ELSE 1 END AS sgn
         |  FROM tf),
         |v AS (SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w
         |  FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0)
         |SELECT dim, CAST(count(*) AS BIGINT) AS nnz,
         |  CAST(sum(w) AS BIGINT) AS sum_w,
         |  CAST(max(abs(w)) AS BIGINT) AS max_abs_w
         |FROM v GROUP BY 1""".stripMargin,
    // the plain global cumsum — the bucketed decomposition must be invisible
    "ml_export_shards" ->
      s"""WITH ${graft.functions.Bpe.oracleCountCte("documents", "m")},
         |t AS (SELECT d.doc_id, b.bpe_tokens AS t
         |  FROM documents d JOIN mcnt b USING (doc_id)),
         |c AS (SELECT doc_id, t,
         |  COALESCE(sum(t) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         | FROM t)
         |SELECT CAST(cum_before // $ShardBudgetTokens AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1""".stripMargin,
    "ml_domain_mixture" ->
      s"""WITH ${graft.functions.Bpe.oracleCountCte("documents", "m")},
         |t AS (SELECT d.doc_id, d.source, b.bpe_tokens AS n_tokens,
         |  ('0x' || substr(md5('mix:' || d.doc_id), 1, 15))::BIGINT AS h,
         |  (CASE WHEN d.source IN ${sqlList(MixTier1)} THEN 100
         |        WHEN d.source IN ${sqlList(MixTier2)} THEN 60
         |        ELSE 20 END * $MixBudgetTokens) // 1000 AS budget
         | FROM documents d JOIN mcnt b USING (doc_id)),
         |c AS (SELECT doc_id, source, n_tokens, budget,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum_tokens
         | FROM t)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= budget""".stripMargin,
    "ml_norm_outliers" ->
      """WITH n2 AS (SELECT vec_id,
        |  list_sum(list_transform(range(1, 65),
        |    i -> CAST(embedding AS DOUBLE[])[i] * CAST(embedding AS DOUBLE[])[i])) AS norm2
        |  FROM embeddings),
        |hi AS (SELECT 'high' AS tail, vec_id, norm2, row_number() OVER
        |  (ORDER BY norm2 DESC, vec_id) AS rank FROM n2),
        |lo AS (SELECT 'low' AS tail, vec_id, norm2, row_number() OVER
        |  (ORDER BY norm2 ASC, vec_id) AS rank FROM n2)
        |SELECT tail, CAST(rank AS INT) AS rank, vec_id, round(norm2, 6) AS norm2
        |FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo) WHERE rank <= 20""".stripMargin,
    "ml_weighted_sample" ->
      """WITH r AS (SELECT doc_id,
        |  least(1000000, n_chars * 4000) AS rate_ppm FROM documents)
        |SELECT doc_id, CAST(rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(('0x' || substr(md5('ws:' || doc_id), 1, 15))::BIGINT % 1000000
        |    < rate_ppm AS INT) AS kept,
        |  CAST(1000000000000 // greatest(rate_ppm, 1) AS BIGINT) AS ipw_micro
        |FROM r""".stripMargin,
    "ml_train_test_split" ->
      """SELECT vec_id,
        | CASE WHEN ('0x' || substr(md5('split:' || vec_id), 1, 15))::BIGINT % 100 < 80
        |      THEN 'train' ELSE 'test' END AS split
        |FROM embeddings""".stripMargin,
    "ml_lang_centroids" ->
      s"""WITH ${TextDedupQueries.langScoredCtes},
         |pred AS (SELECT doc_id, ${TextDedupQueries.langCaseSql} AS lang FROM scored),
         |ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x FROM
         |  (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |          unnest(range(1, ${SomQueries.Dim + 1})) AS i
         |   FROM embeddings))
         |SELECT p.lang, ex.dim,
         |  CAST(round(sum(CAST(x AS DECIMAL(38,18))), 9) AS DOUBLE)
         |    / CAST(count(*) AS BIGINT) AS mu
         |FROM ex JOIN pred p ON ex.vec_id = p.doc_id
         |GROUP BY 1, 2""".stripMargin,
    "som_fit5" -> somFit5Oracle,
    // the full five-slice online training run — init, slice schedule,
    // temperature decay, quantized smoothing — replayed as one CTE chain;
    // the final MODEL is what's hash-gated
    "som_fit_stream" -> somFitStreamOracle,
    // the full online lifecycle under one gate: the sliced training chain
    // feeds the argmin serve CTE — schedule, model, and every served
    // assignment hash-checked together
    "som_predict_stream" -> somPredictStreamOracle,
    "som_fit_predict" -> somFitPredictOracle,
    // same explode shape as ml_standardize; code/recon are the identical
    // IEEE folds Spark runs (floor(x/s*127 + 0.5), code*s/127)
    // every power round replayed: integer dots, 64-dim integer sums, and
    // TRUNCATING-division renorm (DuckDB integer "//" truncates toward
    // zero exactly like Scala Long division; floorDiv would diverge on
    // negative components)
    "ml_top_direction" -> {
      val rounds = (1 to PowerIters).map { t =>
        s"""s$t AS (SELECT q.vec_id, CAST(sum(q.code * x${t - 1}.xv) AS BIGINT) AS sv
           |  FROM q JOIN x${t - 1} ON q.dim = x${t - 1}.dim GROUP BY 1),
           |y$t AS (SELECT q.dim, CAST(sum(q.code * s$t.sv) AS BIGINT) AS y
           |  FROM q JOIN s$t ON q.vec_id = s$t.vec_id GROUP BY 1),
           |m$t AS (SELECT max(abs(y)) AS m FROM y$t),
           |x$t AS (SELECT y$t.dim, (y$t.y * $PowerUnit) // m$t.m AS xv
           |  FROM y$t CROSS JOIN m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x FROM
         |  (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |          unnest(range(1, 65)) AS i
         |   FROM embeddings)),
         |scales AS (SELECT dim, max(abs(x)) AS s FROM ex GROUP BY 1),
         |q AS (
         |  SELECT vec_id, ex.dim,
         |    CAST(CASE WHEN s = 0 THEN 0
         |         ELSE floor(x / s * 127 + 0.5) END AS BIGINT) AS code
         |  FROM ex JOIN scales ON ex.dim = scales.dim),
         |x0 AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS dim,
         |  CAST($PowerUnit AS BIGINT) AS xv),
         |$rounds
         |SELECT CAST(dim AS INT) AS dim, CAST(xv AS BIGINT) AS coef
         |FROM x$PowerIters""".stripMargin
    },
    "ml_quantize_int8" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x FROM
        |  (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |          unnest(range(1, 65)) AS i
        |   FROM embeddings)),
        |scales AS (SELECT dim, max(abs(x)) AS s FROM ex GROUP BY 1),
        |q AS (
        |  SELECT vec_id, ex.dim,
        |    CASE WHEN s = 0 THEN 0 ELSE floor(x / s * 127 + 0.5) END AS code, s
        |  FROM ex JOIN scales ON ex.dim = scales.dim)
        |SELECT vec_id, dim, CAST(code AS INT) AS code,
        |  round(code * s / 127, 6) + 0 AS recon
        |FROM q""".stripMargin,
    "ml_standardize" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x FROM
        |  (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |          unnest(range(1, 65)) AS i
        |   FROM embeddings)),
        |sums AS (
        |  SELECT dim,
        |    CAST(round(sum(CAST(x AS DECIMAL(38,18))), 9) AS DOUBLE) AS sx,
        |    CAST(round(sum(CAST(x*x AS DECIMAL(38,18))), 9) AS DOUBLE) AS sxx,
        |    count(*) AS n
        |  FROM ex GROUP BY 1),
        |stats AS (
        |  SELECT dim, sx / n AS mu,
        |         sqrt((sxx - sx*sx/n) / (n - 1)) AS sigma
        |  FROM sums)
        |SELECT vec_id, dim, round((x - mu) / sigma, 4) + 0 AS z
        |FROM ex JOIN stats USING (dim)""".stripMargin,
  )
}
