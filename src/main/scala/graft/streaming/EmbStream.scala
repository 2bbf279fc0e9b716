package graft.streaming

import graft.functions.HalfUp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING semantic (embedding-space) near-dup dedup — the
  * embedding-family member of the streaming dedup pair
  * ([[DocStream]] is the text/MinHash member): vectors arrive as a
  * stream, and exact-cosine-confirmed near-dup pairs leave as a stream,
  * equal to the batch sign-LSH pipeline
  * ([[graft.operators.Similarity.lshNearDupPairs]]) over whatever prefix
  * of the corpus has arrived. A continuous-crawl pipeline dedups
  * embeddings on arrival exactly like text (r8 verdict ask #5).
  *
  * Spark-first shape, mirroring [[DocStream]]:
  *  - band keys are PER-ROW column expressions (the batch
  *    `lshSignBands` is already per-row: 64 codegen dots → sign bits →
  *    packed band keys; [[bandRows]] just carries the vector alongside),
  *    so the stream stays shuffle-free until the band grouping;
  *  - pair discovery is ONE stateful operator: `groupByKey(band, key)` +
  *    `flatMapGroupsWithState`, state = the bucket's carried (vec_id,
  *    vector, norm) members. A new vector emits confirmed pairs against
  *    every carried member — exactly the candidates the batch band
  *    self-join finds, because band keys are per-row (union-of-banded ==
  *    banded-of-union);
  *  - the exact-cosine confirm runs INSIDE the state function as the
  *    SAME left-to-right IEEE folds the batch codegen kernels run
  *    (`dot/(sqrt(dot(a,a))·sqrt(dot(b,b)))`, norms computed once per
  *    carried member), same HALF_UP round(6) — so the emitted pairs
  *    hash-match the batch oracle.
  *
  * Scale notes: per-bucket PAIR WORK is bounded by the bucket's
  * population like the batch band join's, but under the NoTimeout path
  * STATE is not — every vector lands in one bucket per band and each
  * bucket carries its full (vec_id, vector, norm) membership, so total
  * state is bands × N full vectors (~`bands`× the corpus), corpus-sized
  * regardless of duplicate structure. That is fine for a gated
  * bounded-corpus run; the CONTINUOUS deployment runs
  * [[pairsStreamEvicting]] — the event-time HORIZON mode (r10 verdict
  * #6): watermark-retired members are evicted per bucket, idle buckets
  * expire whole via `EventTimeTimeout`, and pairs are confirmed only
  * within the horizon, so live state is horizon-bounded, not
  * corpus-sized. (The alternatives the semantics also admit — per-bucket
  * compaction to cluster exemplars bounding state by distinct-cluster
  * count, or tiering cold buckets to the versioned store with a
  * `foreachBatch` confirm — remain documented options; the horizon mode
  * is the shipped one because it keeps the within-horizon pair set
  * EXACTLY equal to the batch pipeline's.) Band WIDTH must
  * grow with corpus size ([[graft.operators.Similarity.bitsPerBand]]) —
  * a deployment re-bands when the corpus crosses a width threshold (the
  * `dedup_simhash_incremental` discipline); the bounded-corpus entry
  * sizes bands from the staged corpus count up front. A pair found
  * through two bands is emitted by two groups; the sink read-back
  * collapses them with a distinct, like the batch candidate DISTINCT. */
object EmbStream {

  final case class BandVec(band: Int, key: Long, vec_id: Long, v: Array[Double])
  final case class CosPair(vec_a: Long, vec_b: Long, cos_sim: Double)
  final case class VecBucket(vecs: List[(Long, Array[Double], Double)])

  /** Per-row sign-LSH band keys carrying the vector: (band, key, vec_id,
    * v) — [[graft.operators.Similarity.lshSignBands]] with `v` carried
    * for the in-state confirm (shared construction BY CONSTRUCTION, not
    * by parallel code). */
  def bandRows(points: DataFrame, nBits: Int, bands: Int): DataFrame =
    graft.operators.Similarity.lshSignBands(points, nBits, bands, carry = Seq("v"))
      .select(col("band"), col("key"), col("vec_id"), col("v"))

  // the batch codegen kernels' exact folds (ArrayDot is a left-to-right
  // acc += a(i)*b(i); norm2Fast = sqrt(dot(v,v))) — bit-identical here
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var (i, acc) = (0, 0.0)
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  val MinCos = graft.operators.Similarity.MinCos

  private def emit(key: (Int, Long), rows: Iterator[BandVec],
                   state: GroupState[VecBucket]): Iterator[CosPair] = {
    val carried = state.getOption.map(_.vecs).getOrElse(Nil)
    val incoming = rows.toSeq.sortBy(_.vec_id)
    val out = scala.collection.mutable.ListBuffer.empty[CosPair]
    var acc = carried
    for (b <- incoming) {
      val nb = math.sqrt(dot(b.v, b.v))
      for ((id2, v2, n2) <- acc if id2 != b.vec_id) {
        val cos = dot(b.v, v2) / (nb * n2)
        if (cos >= MinCos)
          out += CosPair(math.min(b.vec_id, id2), math.max(b.vec_id, id2), HalfUp.round(6)(cos))
      }
      acc = (b.vec_id, b.v, nb) :: acc
    }
    state.update(VecBucket(acc))
    out.iterator
  }

  /** The stateful pair stream: one row per (discovering band, confirmed
    * pair) — read-back distinct collapses multi-band finds. */
  def pairsStream(bands: Dataset[BandVec]): Dataset[CosPair] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(emit)
  }

  /** [[BandVec]] with the row's EVENT TIME — the horizon-mode input shape
    * ([[bandRowsT]] carries it through the shared band-key construction). */
  final case class BandVecT(band: Int, key: Long, vec_id: Long,
                            v: Array[Double], ts: java.sql.Timestamp)

  /** Horizon-mode bucket state: members carry their event-time millis so
    * the confirm can evict what the watermark has retired. */
  final case class VecBucketT(vecs: List[(Long, Array[Double], Double, Long)])

  /** [[bandRows]] carrying an event-time column `ts` alongside the vector
    * — same shared [[graft.operators.Similarity.lshSignBands]] key
    * construction, so horizon-mode keys cannot drift from batch keys. */
  def bandRowsT(points: DataFrame, nBits: Int, bands: Int): DataFrame =
    graft.operators.Similarity.lshSignBands(points, nBits, bands, carry = Seq("v", "ts"))
      .select(col("band"), col("key"), col("vec_id"), col("v"), col("ts"))

  /** The CONTINUOUS-deployment eviction story the NoTimeout path's
    * scaladoc promises (r10 verdict #6) — near-dup discovery only needs
    * each incoming vector compared against the dedup HORIZON, so state
    * stops being corpus-sized:
    *
    *  - a pair is confirmed iff the two rows' event times are within
    *    `horizonMs` (pairs against history past the horizon are, by
    *    policy, no longer deletions);
    *  - carried members with `ts < watermark − horizonMs` are EVICTED on
    *    every bucket invocation: any future row has `ts ≥ watermark`
    *    (later rows are dropped as late by the upstream watermark), so an
    *    evicted member can never again land within the horizon of
    *    anything — eviction is invisible to the emitted pair set. Live
    *    state is bounded by the horizon's arrival volume, not the corpus;
    *  - a bucket IDLE past the horizon is removed whole via
    *    `EventTimeTimeout` (timeout at newest member + horizon), so the
    *    bucket-count dimension of state is horizon-bounded too.
    *
    * Exactness contract: within-horizon pairs equal the batch pipeline's
    * on the same rows PROVIDED event-time disorder stays inside the
    * upstream watermark delay (the standard Structured Streaming
    * correctness envelope); cross-horizon pairs are never emitted, by
    * policy. With `horizonMs` ≥ the corpus's event-time span (the gated
    * bounded-corpus configuration) no member is ever evicted and the
    * output equals [[pairsStream]] — which is why the catalog entry built
    * on this mode sits under the UNCHANGED batch oracle while the
    * eviction machinery runs live. EmbStreamSpec plants cross-horizon
    * near-dups and measures the state-row drop. */
  def pairsStreamEvicting(bands: Dataset[BandVecT], horizonMs: Long,
                          watermarkDelay: String): Dataset[CosPair] = {
    import bands.sparkSession.implicits._
    bands.withWatermark("ts", watermarkDelay)
      .as[BandVecT]
      .groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        emitEvicting(horizonMs))
  }

  private def emitEvicting(horizonMs: Long)(
      key: (Int, Long), rows: Iterator[BandVecT],
      state: GroupState[VecBucketT]): Iterator[CosPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val wm = state.getCurrentWatermarkMs()
    // members the watermark has retired can never pair with a future row
    val carried = state.getOption.map(_.vecs).getOrElse(Nil)
      .filter(_._4 >= wm - horizonMs)
    val incoming = rows.toSeq.sortBy(b => (b.ts.getTime, b.vec_id))
    val out = scala.collection.mutable.ListBuffer.empty[CosPair]
    var acc = carried
    for (b <- incoming) {
      val bt = b.ts.getTime
      val nb = math.sqrt(dot(b.v, b.v))
      for ((id2, v2, n2, t2) <- acc if id2 != b.vec_id && math.abs(bt - t2) <= horizonMs) {
        val cos = dot(b.v, v2) / (nb * n2)
        if (cos >= MinCos)
          out += CosPair(math.min(b.vec_id, id2), math.max(b.vec_id, id2), HalfUp.round(6)(cos))
      }
      acc = (b.vec_id, b.v, nb, bt) :: acc
    }
    state.update(VecBucketT(acc))
    // expire the whole bucket once it has been idle past the horizon; the
    // max(wm+1, ·) keeps the timestamp ahead of the watermark as required
    val newest = acc.iterator.map(_._4).max
    state.setTimeoutTimestamp(math.max(wm + 1, newest + horizonMs))
    out.iterator
  }
}
