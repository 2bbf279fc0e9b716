package graft.queries

import graft.SparkSpec

/** Catalog queries must behave like library calls: building AND running one
  * leaves the caller's session state — runtime SQLConf, temp views,
  * registered SQL functions — observably unchanged (VERDICT r2 ask #6). The
  * former offenders set `nanosAsLong` and registered views/functions on the
  * caller's session; they now do it on a [[Scoped]] fork.
  */
class SessionHygieneSpec extends SparkSpec {

  private def snapshot(): (Map[String, String], Set[String], Boolean) = (
    spark.conf.getAll,
    spark.catalog.listTables().collect().map(_.name).toSet,
    spark.catalog.functionExists("array_sqdist"))

  private def assertUnchanged(name: String)(body: => Long): Unit = {
    val before = snapshot()
    assert(body > 0, s"$name returned no rows")
    val after = snapshot()
    assert(after._1 == before._1, s"$name changed runtime conf: " +
      (after._1.toSet diff before._1.toSet).take(3).mkString(", "))
    assert(after._2 == before._2, s"$name leaked temp views: ${after._2 diff before._2}")
    assert(after._3 == before._3, s"$name leaked SQL function registration")
  }

  test("events queries do not leak the legacy parquet flag") {
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ == "false"))
    assertUnchanged("events_hourly") {
      EventQueries.hourly(spark, sf("sf0.001")).count()
    }
    assertUnchanged("events_asof") {
      AdvancedQueries.eventsAsof(spark, sf("sf0.001")).count()
    }
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ == "false"))
  }

  test("som_assign_sql does not leak its temp view or SQL functions") {
    assertUnchanged("som_assign_sql") {
      SomQueries.assignSql(spark, sf("sf0.001")).count()
    }
    assert(!spark.catalog.tableExists("graft_embeddings"))
  }

  test("Artifacts.shared keys by the session passed in: a newSession caller builds and reads its own entry") {
    import graft.operators.Artifacts
    val child = spark.newSession()
    assert(org.apache.spark.sql.SparkSession.active ne child)
    val key = "session_hygiene:shared"
    var builds = Seq.empty[String]
    val parent = Artifacts.shared(spark, key) { builds :+= "parent"; spark.range(3).toDF("x") }
    // the child is not the active session, yet it gets its own build
    val own = Artifacts.shared(child, key) { builds :+= "child"; child.range(5).toDF("x") }
    assert(builds == Seq("parent", "child"))
    assert(parent.count() == 3 && own.count() == 5)
    // each session reuses its own entry, and neither sees the other's
    assert(Artifacts.shared(spark, key)(fail("the parent entry was rebuilt")).count() == 3)
    assert(Artifacts.shared(child, key)(fail("the child entry was rebuilt")).count() == 5)
    assert(own.sparkSession eq child)
  }

  test("Artifacts.sharedPath keys by the session passed in: a newSession caller writes and reads its own layout") {
    import graft.operators.Artifacts
    val child = spark.newSession()
    assert(org.apache.spark.sql.SparkSession.active ne child)
    val key = "session_hygiene:shared_path"
    var writes = Seq.empty[String]
    val parent = Artifacts.sharedPath(spark, key) { p => writes :+= "parent"; spark.range(3).write.parquet(p) }
    // the child is not the active session, yet it writes its own layout
    val own = Artifacts.sharedPath(child, key) { p => writes :+= "child"; child.range(5).write.parquet(p) }
    assert(writes == Seq("parent", "child"))
    assert(parent != own)
    val uuid = org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID _
    assert(parent.contains(uuid(spark)) && own.contains(uuid(child)))
    // each session reuses its own layout and reads its own rows
    assert(Artifacts.sharedPath(spark, key)(_ => fail("the parent layout was rewritten")) == parent)
    assert(Artifacts.sharedPath(child, key)(_ => fail("the child layout was rewritten")) == own)
    assert(spark.read.parquet(parent).count() == 3 && child.read.parquet(own).count() == 5)
  }
}
