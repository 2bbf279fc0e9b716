package graft.tools

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic local scale-up of the driver testdata (sf0.1 → "sf1") for
  * the heavy-query scale spot-check (VERDICT r4 §next-round 8). NOT driver
  * data and NOT oracle-checked — a load generator only, written under
  * `target/` so it never touches /root/testdata.
  *
  * Each copy `i` of `copies` shifts every key column by `i * (max+1)` so key
  * cardinality grows ×copies with group-size distributions UNCHANGED (naive
  * row duplication would instead inflate every group/near-dup cluster ×10 —
  * a skew change, not a scale change). Document text is perturbed per copy
  * with a letter-rotation `translate` so copies are textually DISTINCT
  * (near-dup cluster sizes stay realistic; token counts and lengths are
  * preserved exactly).
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <outDir> [copies=10]
  *          [scaleTables=documents,embeddings,lineitem]
  * The optional 4th arg restricts which tables are scaled (the rest pass
  * through) — the sf10 ×100 run scales only the dedup/ANN corpus tables,
  * not the 60M-row lineitem it never reads.
  */
object GenScale {

  // 12 high-frequency letters → 11 distinct non-identity rotations. The
  // index below maps copy i ≥ 1 to rotation 1..11, NEVER 0: with the old
  // 9-letter set, copy 9 of the default 10 hit `9 % 9 == 0` — an identity
  // translate that duplicated the base texts verbatim, exactly the
  // cluster-inflating skew the rotation exists to prevent (r5 review).
  private val Rot = "etaoinshrdlu"
  // Second, DISJOINT letter set for copies ≥ 12 (the sf10 ×100 run): the
  // primary rotation alone repeats every 11 copies, which would hand each
  // base text ~9 VERBATIM cross-copy twins — exact-dup cluster inflation,
  // the same skew bug the r5 fix removed. Mixed-radix composition
  // (r1 = 1+(i-1)%11 on Rot, r2 = (i-1)/11 on Rot2) yields 11×11 = 121
  // distinct bijective text transforms; r2 = 0 for i ≤ 11 keeps the ×10
  // (sf1) output byte-identical to the historical generator.
  private val Rot2 = "cmfwypbgkvx"

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val scaleTables = args.lift(3).map(_.split(",").toSet)
      .getOrElse(Set("documents", "embeddings", "lineitem"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // events.parquet stores ns timestamps; read them as long for the
      // passthrough copy (same convention as the event-query readers)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def keyShift(df: DataFrame, keys: Seq[String], i: Int,
                 spans: Map[String, Long]): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * spans(k))))

    def replicate(table: String, keys: Seq[String],
                  perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      if (!scaleTables(table)) {
        Tables.parquet(spark, s"$src/$table.parquet")
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
        println(s"[genscale] $table passthrough (not in scaleTables) -> $out/$table.parquet")
        return
      }
      val base = Tables.parquet(spark, s"$src/$table.parquet")
      val spans = keys.map(k =>
        k -> (base.agg(max(col(k))).head.getLong(0) + 1L)).toMap
      val scaled = (0 until copies)
        .map(i => keyShift(perCopy(base, i), keys, i, spans))
        .reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[genscale] $table ×$copies -> $out/$table.parquet")
    }

    require(copies <= 121, "text transforms are distinct only to 121 copies")
    replicate("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else {
        val r = (i - 1) % (Rot.length - 1) + 1 // 1..11, never the identity
        val to = Rot.drop(r) + Rot.take(r)
        val r2 = (i - 1) / (Rot.length - 1) // 0..10; 0 = identity, fine with r ≥ 1
        val to2 = Rot2.drop(r2) + Rot2.take(r2)
        d.withColumn("text",
          translate(translate(col("text"), Rot, to), Rot2, to2))
      })
    // circular-shift the embedding dims per copy: norms and all WITHIN-copy
    // pairwise distances are preserved exactly (realistic timing), while
    // cross-copy cosine decorrelates — identical duplicates would instead
    // inflate every near-dup cluster ×copies (a skew change, not scale).
    // Copies past the dimension count (the ×100 run, dim 64) wrap the shift
    // AND negate: negation preserves every norm and within-copy distance,
    // flips cross-copy cosine sign (still decorrelated), and makes copy
    // dim+k distinct from copy k — a plain wrapped shift would hand copy 64
    // the IDENTITY transform and duplicate the base vectors verbatim.
    replicate("embeddings", Seq("vec_id"), (d, i) => {
      val dim = 64
      val sh = i % dim
      val rot =
        if (sh == 0) col("embedding")
        else concat(slice(col("embedding"), lit(sh + 1), size(col("embedding")) - sh),
                    slice(col("embedding"), lit(1), lit(sh)))
      if (i == 0) d
      else if (i < dim) d.withColumn("embedding", rot)
      else d.withColumn("embedding", transform(rot, x => -x))
    })
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events scale by USER cardinality (event_id + user_id shift): per-user
    // timeline length and event-time span stay constant while N grows —
    // the scale-correct shape for per-user window/CEP/session entries
    // (duplicating timestamps per user would deepen windows: skew, not
    // scale). Timestamps pass through: copies are parallel user
    // populations over the same calendar.
    // (ts re-encoded as a proper µs TIMESTAMP: the nanosAsLong read would
    // otherwise write plain int64 and break the oracle's epoch_us(ts))
    replicate("events", Seq("event_id", "user_id"), (d, _) =>
      d.withColumn("ts", graft.queries.EventTs.tsTimestamp(d)))
    // orders scale by key shift on BOTH its own key and its customer ref;
    // the o_orderkey span equals lineitem's l_orderkey span (same key
    // domain), so copy i's lineitems join copy i's orders and fan-outs
    // stay constant. (Scaled custkeys past copy 0 have no customer row —
    // only relevant to entries joining customer, which stay on the
    // unscaled tables.)
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    // pass the rest through unscaled so outDir is a complete sfdir (Bench
    // warms up on region; unfiltered runs must not hit missing paths)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        Tables.parquet(spark, s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[genscale] $t passthrough -> $out/$t.parquet")
      }
    spark.stop()
  }
}
