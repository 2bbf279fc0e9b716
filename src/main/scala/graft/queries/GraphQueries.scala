package graft.queries

import graft.sources.Tables
import graft.functions.VectorSql.md5Hash60
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph catalog entries: PageRank-family centrality over a
  * deterministic corpus-derived link graph (the crawl-pipeline quality
  * signal — rank hosts/documents by link structure before content filters).
  *
  * The test tables carry no hyperlinks, so the graph is DERIVED from the
  * corpus by the same planted-fixture discipline as the PII/audio entries:
  * each doc's out-degree and link targets are md5-hash formulas of its
  * doc_id, which the oracle replays literally (`'0x'||substr(md5(...))`).
  * The OPERATOR under test — [[graft.operators.Graph.pagerank]] — is graph-
  * agnostic; only this query layer knows the formula.
  */
object GraphQueries {

  /** Damped iterations the catalog entry runs (each is oracle-replayed). */
  val PrIters = 5

  /** Out-degree 1..8 and targets drawn uniformly over the contiguous
    * doc_id space [0, n): a multigraph with self-loops possible, every node
    * ≥ 1 out-link (no dangling mass — [[graft.operators.Graph.pagerank]]'s
    * no-out-edge leak never triggers here). */
  private[graft] def linkGraph(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"))
      .withColumn("k", (md5Hash60(concat(lit("deg:"), col("src"))) % 8 + 1).cast("int"))
      .withColumn("j", explode(sequence(lit(0), col("k") - 1)))
      .withColumn("dst", md5Hash60(concat_ws(":", lit("lnk"), col("src"), col("j"))) % n)
      .select(col("src"), col("dst"))

  /** Exact integer rank of every document after [[PrIters]] damped rounds.
    * `n` (the id-space size the targets draw from) is the one corpus-scale
    * count collected — metadata, same discipline as ml_export_shards. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
    val n = docs.count()
    graft.operators.Graph.pagerank(
      linkGraph(docs, n), docs.select(col("doc_id").as("id")), PrIters)
      .select(col("id").as("doc_id"), col("rank"))
  }

  /** Exact per-document triangle participation over the same derived link
    * graph — the link-ring / spam-farm density signal beside
    * [[graphPagerank]]'s centrality. Spark runs the degree-ORIENTED
    * algorithm ([[graft.operators.Graph.triangleCounts]]: wedge work
    * capped at m^1.5 by orientation, no hub blowup); the oracle lists
    * triangles from the plain u<v canonical form with the textbook
    * three-way self-join — two different algorithms, one exact integer
    * answer, which is the point of the gate. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
    val n = docs.count()
    graft.operators.Graph.triangleCounts(
      linkGraph(docs, n), docs.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("n_tri"))
  }

  /** IN-DEGREE DISTRIBUTION of the link graph — the graph-observability
    * pass before trusting centrality numbers (a heavy-tailed in-degree
    * histogram says hubs/spam-magnets exist; this uniform synthetic graph
    * should look Poisson around its mean — and does): per-doc in-link
    * counts from one groupBy over the derived edges, zero-in-degree docs
    * kept via the left join (dropping them is the classic histogram bug),
    * then one count per degree value. Degree-cardinality output at any
    * corpus size; everything exact integers. */
  def graphDegreeHist(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
    val n = docs.count()
    val indeg = linkGraph(docs, n).groupBy(col("dst")).agg(count(lit(1)).as("d"))
    docs.select(col("doc_id"))
      .join(indeg, col("doc_id") === col("dst"), "left_outer")
      .select(coalesce(col("d"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree")).agg(count(lit(1)).as("n_docs"))
  }

  /** LPA rounds the communities entry runs (each is oracle-replayed). */
  val LpaIters = 3

  /** Global top-k the link-prediction entry keeps. */
  val LinkPredK = 20

  /** LINK PREDICTION over the derived graph — top-[[LinkPredK]]
    * non-adjacent pairs by exact-ppm resource-allocation score
    * ([[graft.operators.Graph.commonNeighbors]]: hub-capped wedge pivots,
    * integer 1e6 div deg units). The oracle replays the identical cap and
    * scoring from the plain adjacency spelling. */
  def graphLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
    val n = docs.count()
    graft.operators.Graph.commonNeighbors(linkGraph(docs, n), LinkPredK)
  }

  /** COMMUNITY DETECTION over the derived graph — label-propagation
    * community sizes after [[LpaIters]] synchronous rounds
    * ([[graft.operators.Graph.labelPropagate]]: plurality label, smallest-
    * label ties — fully deterministic, so the oracle unrolls every round
    * as staged CTEs, the [[graphPagerank]] discipline). */
  def graphCommunities(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
    val n = docs.count()
    graft.operators.Graph.labelPropagate(
        linkGraph(docs, n), docs.select(col("doc_id").as("id")), LpaIters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> graphPagerank _,
    "graph_triangles" -> graphTriangles _,
    "graph_degree_hist" -> graphDegreeHist _,
    "graph_link_predict" -> graphLinkPredict _,
    "graph_communities" -> graphCommunities _,
  )

  /** The oracle replays the edge formula and all [[PrIters]] rounds as
    * staged CTEs (the som_fit5 discipline). Every quantity is integer, so
    * the comparison is exact — no float-sum ordering anywhere. */
  val oracleSql: Map[String, String] = {
    val base = (15L * graft.operators.Graph.InitMass) / 100L
    val iterCtes = (1 to PrIters).map { t =>
      s"""i$t AS (SELECT e.dst AS doc_id, sum(r${t - 1}.rank // e.k) AS inflow
         |  FROM e JOIN r${t - 1} ON r${t - 1}.doc_id = e.src GROUP BY 1),
         |r$t AS (SELECT d.doc_id,
         |  $base + (85 * COALESCE(i.inflow, 0)) // 100 AS rank
         |  FROM documents d LEFT JOIN i$t i USING (doc_id))""".stripMargin
    }.mkString(",\n")
    Map(
      "graph_pagerank" ->
        s"""WITH deg AS (SELECT doc_id AS src,
           |    1 + (('0x' || substr(md5('deg:' || doc_id), 1, 15))::BIGINT % 8) AS k
           |  FROM documents),
           |e AS (SELECT src, k,
           |    ('0x' || substr(md5('lnk:' || src || ':' || j.j), 1, 15))::BIGINT
           |      % (SELECT count(*) FROM documents) AS dst
           |  FROM deg, range(8) AS j(j) WHERE j.j < k),
           |r0 AS (SELECT doc_id, CAST(${graft.operators.Graph.InitMass} AS BIGINT) AS rank
           |  FROM documents),
           |$iterCtes
           |SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM r$PrIters""".stripMargin,
      // same edge formula; triangles listed once each via the u<v ordered
      // three-way self-join (x<y<z ⇒ edges (x,y),(y,z),(x,z)), then each
      // corner credited
      "graph_triangles" ->
        """WITH deg AS (SELECT doc_id AS src,
          |    1 + (('0x' || substr(md5('deg:' || doc_id), 1, 15))::BIGINT % 8) AS k
          |  FROM documents),
          |e AS (SELECT src,
          |    ('0x' || substr(md5('lnk:' || src || ':' || j.j), 1, 15))::BIGINT
          |      % (SELECT count(*) FROM documents) AS dst
          |  FROM deg, range(8) AS j(j) WHERE j.j < k),
          |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
          |    greatest(src, dst) AS v FROM e WHERE src <> dst),
          |tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
          |  FROM und a JOIN und b ON b.u = a.v
          |  JOIN und c ON c.u = a.u AND c.v = b.v),
          |corners AS (SELECT x AS doc_id FROM tri
          |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
          |SELECT d.doc_id, CAST(COALESCE(t.n, 0) AS BIGINT) AS n_tri
          |FROM documents d LEFT JOIN
          |  (SELECT doc_id, count(*) AS n FROM corners GROUP BY 1) t
          |  USING (doc_id)""".stripMargin,
      // same edge formula; the hub cap (64) and exact-ppm RA units are
      // replayed literally; NOT EXISTS drops already-linked pairs; the
      // LIMIT cut rides the same unique total order as the Spark side
      "graph_link_predict" ->
        s"""WITH deg AS (SELECT doc_id AS src,
           |    1 + (('0x' || substr(md5('deg:' || doc_id), 1, 15))::BIGINT % 8) AS k
           |  FROM documents),
           |e AS (SELECT src,
           |    ('0x' || substr(md5('lnk:' || src || ':' || j.j), 1, 15))::BIGINT
           |      % (SELECT count(*) FROM documents) AS dst
           |  FROM deg, range(8) AS j(j) WHERE j.j < k),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
           |    greatest(src, dst) AS v FROM e WHERE src <> dst),
           |dg AS (SELECT id, count(*) AS d FROM
           |  (SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |adj AS MATERIALIZED (SELECT p, x, dg.d FROM
           |  (SELECT u AS p, v AS x FROM und UNION ALL SELECT v, u FROM und) a
           |  JOIN dg ON dg.id = a.p
           |  WHERE dg.d <= ${graft.operators.Graph.PivotCap}),
           |w AS (SELECT a.x AS x, b.x AS y, a.d AS d
           |  FROM adj a JOIN adj b ON a.p = b.p AND a.x < b.x),
           |nl AS (SELECT x, y, d FROM w WHERE NOT EXISTS
           |  (SELECT 1 FROM und WHERE und.u = w.x AND und.v = w.y))
           |SELECT x AS u, y AS v, CAST(count(*) AS BIGINT) AS n_common,
           |  CAST(sum(${graft.operators.Graph.RaUnit} // d) AS BIGINT) AS ra_ppm
           |FROM nl GROUP BY 1, 2
           |ORDER BY ra_ppm DESC, n_common DESC, u, v
           |LIMIT ${LinkPredK}""".stripMargin,
      // same edge formula; every LPA round unrolled (plurality label,
      // smallest-label ties, isolated nodes keep their label)
      "graph_communities" -> {
        val rounds = (1 to LpaIters).map { t =>
          s"""v$t AS (SELECT adj.p, l.lbl, count(*) AS c
             |  FROM adj JOIN l${t - 1} l ON l.id = adj.x GROUP BY 1, 2),
             |w$t AS (SELECT p, lbl FROM (SELECT p, lbl,
             |    row_number() OVER (PARTITION BY p ORDER BY c DESC, lbl) AS rn
             |  FROM v$t) WHERE rn = 1),
             |l$t AS (SELECT l${t - 1}.id, COALESCE(w$t.lbl, l${t - 1}.lbl) AS lbl
             |  FROM l${t - 1} LEFT JOIN w$t ON w$t.p = l${t - 1}.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH deg AS (SELECT doc_id AS src,
           |    1 + (('0x' || substr(md5('deg:' || doc_id), 1, 15))::BIGINT % 8) AS k
           |  FROM documents),
           |e AS (SELECT src,
           |    ('0x' || substr(md5('lnk:' || src || ':' || j.j), 1, 15))::BIGINT
           |      % (SELECT count(*) FROM documents) AS dst
           |  FROM deg, range(8) AS j(j) WHERE j.j < k),
           |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
           |    greatest(src, dst) AS v FROM e WHERE src <> dst),
           |adj AS MATERIALIZED (SELECT u AS p, v AS x FROM und
           |  UNION ALL SELECT v, u FROM und),
           |l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
           |$rounds
           |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
           |FROM l$LpaIters GROUP BY 1""".stripMargin
      },
      // same edge formula; zero-in-degree docs kept by the left join
      "graph_degree_hist" ->
        s"""WITH deg AS (SELECT doc_id AS src,
           |    1 + (('0x' || substr(md5('deg:' || doc_id), 1, 15))::BIGINT % 8) AS k
           |  FROM documents),
           |e AS (SELECT src, k,
           |    ('0x' || substr(md5('lnk:' || src || ':' || j.j), 1, 15))::BIGINT
           |      % (SELECT count(*) FROM documents) AS dst
           |  FROM deg, range(8) AS j(j) WHERE j.j < k),
           |indeg AS (SELECT dst, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
           |perdoc AS (SELECT COALESCE(i.d, 0) AS in_degree
           |  FROM documents doc LEFT JOIN indeg i ON doc.doc_id = i.dst)
           |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_docs
           |FROM perdoc GROUP BY 1""".stripMargin,
    )
  }
}
