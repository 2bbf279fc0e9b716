package graft.streaming

import graft.functions.HalfUp
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING near-dup text dedup — the continuous-crawl form of the batch
  * MinHash+LSH family (`dedup_minhash_pairs`): documents arrive as a
  * stream, and confirmed near-dup pairs leave as a stream, equal to the
  * batch UNCAPPED pipeline's pairs over whatever prefix of the corpus has
  * arrived (DedupStreamSpec proves batch-split invariance; the catalog
  * entry hash-matches the same DuckDB oracle as the incremental family).
  *
  * Spark-first shape:
  *  - signatures are PER-ROW column expressions (no streaming aggregate):
  *    the batch path's explode→groupBy minhash becomes
  *    `array_min(transform(...))` over the doc's own distinct-shingle-hash
  *    array — same kernels ([[graft.operators.TextOps.shingles3Fast]],
  *    md5Prefix60), same affine permutations, bit-identical minhashes —
  *    so the stream stays shuffle-free until the band grouping;
  *  - pair discovery is ONE stateful operator: `groupByKey(band, key)` +
  *    `flatMapGroupsWithState`, state = the bucket's (doc, shingle-hash
  *    set) membership. A new doc emits confirmed pairs against every
  *    carried member — exactly the candidates the batch band self-join
  *    finds, because band keys are per-doc (union-of-banded ==
  *    banded-of-union, the [[graft.operators.Dedup.incrementalPairs]]
  *    argument);
  *  - the exact-Jaccard confirm runs INSIDE the state function on the
  *    carried sorted hash arrays — same 60-bit hash space, same
  *    `inter/(na+nb−inter)` double division, same HALF_UP round(6) as the
  *    batch kernel, so the emitted pairs hash-match the batch oracle.
  *
  * Scale notes: per-bucket PAIR WORK is bounded by the bucket's
  * membership the same way the batch join's bucket cost is, but under
  * the NoTimeout path STATE is corpus-sized (every doc carried in its
  * bands buckets forever). The CONTINUOUS deployment runs
  * [[pairsStreamEvicting]] — the event-time HORIZON mode, the text twin
  * of [[EmbStream.pairsStreamEvicting]]: watermark-retired members are
  * evicted per bucket, idle buckets expire whole, and live state is
  * bounded by the horizon's crawl volume. (The df-cap star on hot
  * buckets composes with either mode, the batch capping discipline.)
  * A pair found through two bands is emitted by two groups; the sink
  * read-back collapses them with a distinct — the same dedup the batch
  * candidate pipeline does before its confirm. */
object DocStream {

  final case class BandDoc(band: Int, key: String, doc: Long, hs: Array[Long])
  final case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)
  final case class BucketState(docs: List[(Long, Array[Long])])

  import graft.operators.Dedup.{MinhashP, NumMinhash}

  /** Per-row signature + band-key columns: (doc, hs, band, key) — one row
    * per (doc, band). `hs` is the doc's SORTED distinct 60-bit shingle-hash
    * array (the confirm's exact input); band keys are the batch
    * [[graft.operators.Dedup.bandedTable]] keys built from per-row
    * `array_min` minhashes instead of a groupBy. */
  def bandRows(docs: org.apache.spark.sql.DataFrame,
               id: String, text: String): org.apache.spark.sql.DataFrame =
    bandRowsCarrying(docs, id, text, Nil)

  /** [[bandRows]] carrying an event-time column `ts` alongside the hash
    * array — the horizon-mode input shape; the SAME signature/band-key
    * construction, so horizon-mode keys cannot drift from batch keys. */
  def bandRowsT(docs: org.apache.spark.sql.DataFrame,
                id: String, text: String): org.apache.spark.sql.DataFrame =
    bandRowsCarrying(docs, id, text, Seq("ts"))

  private def bandRowsCarrying(docs: org.apache.spark.sql.DataFrame,
                               id: String, text: String,
                               carry: Seq[String]): org.apache.spark.sql.DataFrame = {
    val hs = array_sort(array_distinct(transform(
      graft.operators.TextOps.shingles3Fast(col(text)),
      sh => graft.functions.VectorSql.md5Hash60(sh))))
    def minhash(h: Int): Column =
      array_min(transform(col("hs"),
        x => (lit(h.toLong * 2 + 3) * (x % MinhashP) + lit(h.toLong * 97 + 1)) % MinhashP))
    val bandKeys = (0 until NumMinhash / 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until 4).map(i => minhash(4 * b + i).cast("string")): _*).as("key"))
    }
    docs.select(col(id).as("doc") +: hs.as("hs") +: carry.map(col): _*)
      .select(col("doc") +: col("hs") +:
        explode(array(bandKeys: _*)).as("bk") +: carry.map(col): _*)
      .select(col("bk.band").as("band") +: col("bk.key").as("key") +:
        col("doc") +: col("hs") +: carry.map(col): _*)
  }

  /** Count of common elements of two SORTED arrays (merge walk). */
  private def sortedIntersect(a: Array[Long], b: Array[Long]): Int = {
    var (i, j, n) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  private def emit(key: (Int, String), rows: Iterator[BandDoc],
                   state: GroupState[BucketState]): Iterator[NearDupPair] = {
    val carried = state.getOption.map(_.docs).getOrElse(Nil)
    // doc order within the batch for determinism; pairs are (min, max) so
    // the processing order never shows in the output
    val incoming = rows.toSeq.sortBy(_.doc)
    val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
    var acc = carried
    for (b <- incoming) {
      for ((d2, hs2) <- acc if d2 != b.doc) {
        val inter = sortedIntersect(b.hs, hs2)
        if (inter > 0) {
          val jac = inter.toDouble / (b.hs.length + hs2.length - inter)
          if (jac >= MinJaccard)
            out += NearDupPair(math.min(b.doc, d2), math.max(b.doc, d2), HalfUp.round(6)(jac))
        }
      }
      acc = (b.doc, b.hs) :: acc
    }
    state.update(BucketState(acc))
    out.iterator
  }

  val MinJaccard = 0.8

  /** The stateful pair stream: one row per (discovering band, confirmed
    * pair) — read-back distinct collapses multi-band finds. */
  def pairsStream(bands: Dataset[BandDoc]): Dataset[NearDupPair] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(emit)
  }

  /** [[BandDoc]] with the row's EVENT TIME — the horizon-mode input shape
    * ([[bandRowsT]] carries it through the shared key construction). */
  final case class BandDocT(band: Int, key: String, doc: Long,
                            hs: Array[Long], ts: java.sql.Timestamp)

  /** Horizon-mode bucket state: members carry their event-time millis so
    * the confirm can evict what the watermark has retired. */
  final case class BucketStateT(docs: List[(Long, Array[Long], Long)])

  /** The CONTINUOUS-CRAWL eviction mode the NoTimeout path's scaladoc
    * promises — the text twin of
    * [[EmbStream.pairsStreamEvicting]] (same argument, same contract):
    * a pair is confirmed iff the two docs' event times are within
    * `horizonMs`; carried members with `ts < watermark − horizonMs` are
    * evicted on every bucket invocation (no future row can land within
    * their horizon, so eviction is invisible to the emitted pair set);
    * a bucket idle past the horizon is removed whole via
    * `EventTimeTimeout`. Live state is bounded by the horizon's crawl
    * volume, not the corpus. With `horizonMs` ≥ the corpus's event-time
    * span, no member is ever evicted and the output equals
    * [[pairsStream]] — the gated bounded-corpus configuration
    * (`dedup_pairs_stream_evict` sits under the UNCHANGED batch oracle
    * while the eviction machinery runs live). DedupStreamSpec plants
    * cross-horizon near-dups and measures the state-row drop. */
  def pairsStreamEvicting(bands: Dataset[BandDocT], horizonMs: Long,
                          watermarkDelay: String): Dataset[NearDupPair] = {
    import bands.sparkSession.implicits._
    bands.withWatermark("ts", watermarkDelay)
      .as[BandDocT]
      .groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        emitEvicting(horizonMs))
  }

  private def emitEvicting(horizonMs: Long)(
      key: (Int, String), rows: Iterator[BandDocT],
      state: GroupState[BucketStateT]): Iterator[NearDupPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val wm = state.getCurrentWatermarkMs()
    // members the watermark has retired can never pair with a future row
    val carried = state.getOption.map(_.docs).getOrElse(Nil)
      .filter(_._3 >= wm - horizonMs)
    val incoming = rows.toSeq.sortBy(b => (b.ts.getTime, b.doc))
    val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
    var acc = carried
    for (b <- incoming) {
      val bt = b.ts.getTime
      for ((d2, hs2, t2) <- acc if d2 != b.doc && math.abs(bt - t2) <= horizonMs) {
        val inter = sortedIntersect(b.hs, hs2)
        if (inter > 0) {
          val jac = inter.toDouble / (b.hs.length + hs2.length - inter)
          if (jac >= MinJaccard)
            out += NearDupPair(math.min(b.doc, d2), math.max(b.doc, d2), HalfUp.round(6)(jac))
        }
      }
      acc = (b.doc, b.hs, bt) :: acc
    }
    state.update(BucketStateT(acc))
    // expire the whole bucket once it has been idle past the horizon; the
    // max(wm+1, ·) keeps the timestamp ahead of the watermark as required
    val newest = acc.iterator.map(_._3).max
    state.setTimeoutTimestamp(math.max(wm + 1, newest + horizonMs))
    out.iterator
  }
}
