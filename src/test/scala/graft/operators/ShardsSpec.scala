package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Distributed-prefix-sum shard assignment (ml_export_shards): greedy
  * sequential-fill semantics on a hand corpus, bucketSize invariance (the
  * decomposition must be result-invisible), and the structural invariants a
  * trainer relies on. */
class ShardsSpec extends SparkSpec {

  test("greedy sequential fill on a hand corpus") {
    import spark.implicits._
    // tokens 3,2,4,1,5 / budget 5: cumBefore 0,3,5,9,10 → shards 0,0,1,1,2
    val docs = Seq((0L, 3L), (1L, 2L), (2L, 4L), (3L, 1L), (4L, 5L)).toDF("doc_id", "t")
    val got = Shards.assignShards(docs, "doc_id", "t", budget = 5, bucketSize = 2)
      .orderBy("doc").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 0L), (1L, 2L, 0L), (2L, 4L, 1L), (3L, 1L, 1L), (4L, 5L, 2L)))
  }

  test("bucketSize is result-invisible, including with id gaps and empty buckets") {
    import spark.implicits._
    val rnd = new Random(7)
    // sparse ids (gaps straddle bucket boundaries) with varied token counts
    val docs = (0 until 400).map(i => (i * 7L + (i % 3), 1L + rnd.nextInt(50)))
      .toDF("doc_id", "t")
    def run(bs: Long) = Shards.assignShards(docs, "doc_id", "t", 100, bs)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ref = run(1000000) // one bucket: the plain global cumsum
    assert(run(2) == ref)
    assert(run(64) == ref)
    assert(run(257) == ref) // bucket edges misaligned with id stride
  }

  test("structural invariants: partition of the corpus, id-contiguous shards, budget overflow bounded") {
    import spark.implicits._
    val rnd = new Random(11)
    val docs = (0L until 300L).map(i => (i, 1L + rnd.nextInt(40))).toDF("doc_id", "t")
    val rows = Shards.assignShards(docs, "doc_id", "t", 200, 32)
      .orderBy("doc").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 300 && rows.map(_._1).distinct.length == 300) // exactly once
    // shard ids nondecreasing in doc order (a trainer can stream shards in order)
    assert(rows.map(_._3).sliding(2).forall(p => p.head <= p.last))
    // each shard's total exceeds budget by at most its last doc (greedy bound)
    val byShard = rows.groupBy(_._3).values
    assert(byShard.forall { s => s.map(_._2).sum - s.last._2 < 200 })
  }

  test("manifest twin: assignment-side manifest == layout read-back manifest") {
    import spark.implicits._
    // The ml_export_shards oracle hashes the manifest computed from the
    // layout READ BACK from disk; this twin gates the SINK independently:
    // Shards.manifest over the in-memory assignment must equal it exactly
    // (a lost row, duplicated file, or torn partition breaks equality).
    val rnd = new Random(13)
    val docs = (0L until 500L).map(i => (i, 1L + rnd.nextInt(30))).toDF("doc_id", "t")
    val assigned = Shards.assignShards(docs, "doc_id", "t", 150, 32)
    val dir = java.nio.file.Files.createTempDirectory("shards_twin").toString
    try {
      graft.sources.Sources.writePartitioned(assigned, dir, "shard")
      val fromAssign = Shards.manifest(assigned)
        .orderBy("shard").collect().map(_.toSeq).toSeq
      val fromLayout = Shards.manifest(spark.read.parquet(dir))
        .orderBy("shard").collect().map(_.toSeq).toSeq
      assert(fromAssign.nonEmpty && fromAssign == fromLayout)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("layout scratch dir is repo-local, not java.io.tmpdir") {
    val p = Artifacts.sharedPath(spark, "shards_spec_scratch") { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)): Unit
    }
    val repoTarget = graft.RepoRoot.dir.resolve("target").toAbsolutePath.toString
    assert(p.startsWith(repoTarget), s"layout $p not under $repoTarget")
  }
}
