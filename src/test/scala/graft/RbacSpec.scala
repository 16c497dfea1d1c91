package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric

class RbacSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Long): Seq[Float] =
    (0 until 4).map(d => ((seed * (d + 3)) % 97).toFloat / 97f)

  private def mkRows(ids: Seq[Long]) =
    ids.map(i => (i, vec(i), s"doc $i", i % 5)).toDF("pk", "emb", "txt", "grp")

  test("registry: groups expand, wildcard collections, admin bypass") {
    val r = new Rbac.Registry
    r.createRole("reader")
    r.addUserToRole("alice", "reader")
    r.grant("reader", "CollectionReadOnly", "docs")
    assert(r.allowed("alice", "Search", "docs"))
    assert(r.allowed("alice", "Query", "docs"))
    assert(!r.allowed("alice", "Insert", "docs"), "ReadOnly excludes writes")
    assert(!r.allowed("alice", "Search", "other"), "grant is per collection")
    r.grant("reader", "Insert", "*")
    assert(r.allowed("alice", "Insert", "anything"))
    r.revoke("reader", "Insert", "*")
    assert(!r.allowed("alice", "Insert", "anything"))
    // admin role passes everything without grants
    r.addUserToRole("root", "admin")
    assert(r.allowed("root", "DropPartition", "docs"))
    // unknown role/privilege fail fast
    intercept[IllegalArgumentException] { r.grant("nope", "Query", "docs") }
    intercept[IllegalArgumentException] { r.grant("reader", "Banana", "docs") }
    intercept[IllegalArgumentException] { r.dropRole("admin") }
  }

  test("custom privilege groups: lifecycle, live membership, drop guards") {
    val r = new Rbac.Registry
    r.createRole("analyst")
    r.addUserToRole("bob", "analyst")
    // create + populate + grant
    r.createPrivilegeGroup("SearchAndStats")
    r.operatePrivilegeGroup("SearchAndStats", Set("Search", "GetStatistics"), add = true)
    r.grant("analyst", "SearchAndStats", "docs")
    assert(r.allowed("bob", "Search", "docs"))
    assert(r.allowed("bob", "GetStatistics", "docs"))
    assert(!r.allowed("bob", "Query", "docs"))
    // membership resolves at check time: mutating the group takes
    // effect on the existing grant
    r.operatePrivilegeGroup("SearchAndStats", Set("Query"), add = true)
    assert(r.allowed("bob", "Query", "docs"))
    r.operatePrivilegeGroup("SearchAndStats", Set("Search"), add = false)
    assert(!r.allowed("bob", "Search", "docs"))
    // listing shows built-ins + the custom group with current members
    val listed = r.listPrivilegeGroups.toMap
    assert(listed("SearchAndStats") == Set("GetStatistics", "Query"))
    assert(listed.contains("CollectionReadOnly"))
    // name collisions with built-ins/privileges rejected; built-ins immutable
    intercept[IllegalArgumentException](r.createPrivilegeGroup("CollectionAdmin"))
    intercept[IllegalArgumentException](r.createPrivilegeGroup("Search"))
    intercept[IllegalArgumentException](
      r.operatePrivilegeGroup("CollectionReadOnly", Set("Insert"), add = true))
    intercept[IllegalArgumentException](
      r.operatePrivilegeGroup("SearchAndStats", Set("Banana"), add = true))
    // cannot drop while granted; revoke unblocks the drop
    intercept[IllegalArgumentException](r.dropPrivilegeGroup("SearchAndStats"))
    r.revoke("analyst", "SearchAndStats", "docs")
    r.dropPrivilegeGroup("SearchAndStats")
    assert(!r.allowed("bob", "Query", "docs"))
    intercept[IllegalArgumentException](r.dropPrivilegeGroup("CollectionReadOnly"))
    // backup/restore round-trips custom groups
    r.createPrivilegeGroup("Ops")
    r.operatePrivilegeGroup("Ops", Set("Flush", "Compaction"), add = true)
    val b = r.backup()
    val r2 = new Rbac.Registry
    r2.restore(b)
    assert(r2.listPrivilegeGroups.toMap.apply("Ops") == Set("Flush", "Compaction"))
  }

  test("facade: RBAC gates operations by the caller's grants") {
    val reg = new Rbac.Registry
    reg.createRole("reader"); reg.createRole("writer")
    reg.addUserToRole("alice", "reader")
    reg.addUserToRole("bob", "writer")
    reg.grant("reader", "CollectionReadOnly", "events")
    reg.grant("writer", "CollectionReadWrite", "events")
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.setUser(Rls.UserContext("bob"))
    c.enableRbac(reg, "events")
    c.insert(mkRows(0L until 20L)) // writer may insert
    c.setUser(Rls.UserContext("alice"))
    assert(c.count() == 20) // reader may read...
    assert(c.search("emb", Seq((0L, vec(3))).toDF("qid", "qvec"), k = 1,
      metric = Metric.L2, outputFields = Seq("pk"))
      .select($"pk").as[Long].head() == 3L)
    intercept[SecurityException] { c.insert(mkRows(Seq(100L))) } // ...not write
    intercept[SecurityException] { c.delete("grp == 1") }
    intercept[SecurityException] { c.createPartition("p") }
    // index DDL and truncate check their own privileges: ReadOnly lacks
    // them, ReadWrite holds them
    val ddl = Seq[(String, () => Any)](
      "dropIndex" -> (() => c.dropIndex("emb")),
      "createScalarIndex" -> (() => c.createScalarIndex("grp", "INVERTED")),
      "createIndex" -> (() => c.createIndex("emb", nlist = 2)),
      "truncate" -> (() => c.truncate()))
    ddl.foreach { case (verb, op) =>
      withClue(verb)(intercept[SecurityException](op()))
    }
    c.setUser(Rls.UserContext("bob"))
    // (the index createIndex builds here serves searchIndexed below)
    ddl.take(3).foreach { case (verb, op) => withClue(verb)(op()) }
    c.setUser(Rls.UserContext("alice"))
    // every write verb refuses the reader, and a refused partial upsert
    // starts no Spark job (the gate runs before its merge join)
    WriteVerbs.all(c, mkRows).foreach { case (verb, op) =>
      withClue(verb)(intercept[SecurityException](op()))
    }
    assert(WriteVerbs.jobsOf(spark)(intercept[SecurityException](
      c.upsertPartial(Seq((1L, 3L)).toDF("pk", "grp")))) == 0)
    // every read verb and index describe passes the reader's grant...
    val indexReads = Seq[(String, () => Any)](
      "describeIndex" -> (() => c.describeIndex("emb")),
      "getIndexState" -> (() => c.getIndexState("emb")),
      "getIndexBuildProgress" -> (() => c.getIndexBuildProgress("emb")),
      "describeIndexProperties" -> (() => c.describeIndexProperties("emb")))
    (ReadVerbs.all(c) ++ indexReads).foreach { case (verb, op) =>
      withClue(verb)(op())
    }
    // ...and revoking the read grant closes every one of them
    reg.revoke("reader", "CollectionReadOnly", "events")
    intercept[SecurityException] { c.count() }
    (ReadVerbs.all(c) ++ indexReads).foreach { case (verb, op) =>
      withClue(verb)(intercept[SecurityException](op()))
    }
    // upsert is its own privilege, not Insert (reference semantics): it
    // covers upsert, partial upsert and setField, and nothing else
    reg.createRole("upserter")
    reg.addUserToRole("carol", "upserter")
    reg.grant("upserter", "Upsert", "events")
    c.setUser(Rls.UserContext("carol"))
    val upserts = Set("upsert", "upsertPartial", "setField")
    WriteVerbs.all(c, mkRows).foreach { case (verb, op) =>
      if (upserts(verb)) withClue(verb)(op())
      else withClue(verb)(intercept[SecurityException](op()))
    }
    // disabling restores open access
    c.disableRbac()
    c.setUser(Rls.UserContext("alice"))
    assert(c.count() == 20)
    c.enableRbac(reg, "events")
    c.setUser(Rls.UserContext("bob"))
    c.truncate() // ReadWrite holds Truncate
    assert(c.count() == 0)
  }

  test("credentials: create/verify/update/delete, never plaintext-equal") {
    val reg = new Rbac.Registry
    reg.createCredential("alice", "s3cret")
    assert(reg.verifyCredential("alice", "s3cret"))
    assert(!reg.verifyCredential("alice", "wrong"))
    assert(!reg.verifyCredential("nobody", "s3cret"))
    intercept[IllegalArgumentException](reg.createCredential("alice", "x"))
    // update requires the old password
    intercept[IllegalArgumentException](reg.updateCredential("alice", "wrong", "n3w"))
    reg.updateCredential("alice", "s3cret", "n3w")
    assert(reg.verifyCredential("alice", "n3w") && !reg.verifyCredential("alice", "s3cret"))
    reg.createCredential("bob", "pw")
    assert(reg.listCredUsers == Seq("alice", "bob"))
    reg.deleteCredential("bob")
    assert(reg.listCredUsers == Seq("alice"))
  }

  test("backup/restore round-trips the full RBAC metadata") {
    val reg = new Rbac.Registry
    reg.createRole("reader")
    reg.addUserToRole("alice", "reader")
    reg.grant("reader", "CollectionReadOnly", "events")
    reg.createCredential("alice", "pw1", description = "analyst")
    val b = reg.backup()
    // restore into a fresh registry: verification works against the
    // restored DIGESTS (no plaintext travels), roles/grants/descriptions
    // come back, built-ins survive
    val fresh = new Rbac.Registry
    fresh.restore(b)
    assert(fresh.verifyCredential("alice", "pw1"))
    assert(!fresh.verifyCredential("alice", "wrong"))
    assert(fresh.describeUser("alice") == (Set("reader"), "analyst"))
    assert(fresh.allowed("alice", "Query", "events"))
    assert(!fresh.allowed("alice", "Insert", "events"))
    // the snapshot is independent of later source mutations
    reg.deleteCredential("alice")
    assert(fresh.verifyCredential("alice", "pw1"))
  }

  test("user description: set at create, edited without password, survives rotation") {
    val reg = new Rbac.Registry
    reg.createCredential("svc", "pw1", description = "owned by data-platform")
    reg.addUserToRole("svc", "public")
    assert(reg.describeUser("svc") == (Set("public"), "owned by data-platform"))
    // description-only update needs no password
    reg.updateUserDescription("svc", "migrated to ingest team")
    assert(reg.describeUser("svc")._2 == "migrated to ingest team")
    assert(reg.verifyCredential("svc", "pw1")) // password untouched
    // password rotation does not erase the description
    reg.updateCredential("svc", "pw1", "pw2")
    assert(reg.describeUser("svc")._2 == "migrated to ingest team")
    // unknown user errors; delete clears the description
    intercept[IllegalArgumentException](reg.updateUserDescription("ghost", "x"))
    reg.deleteCredential("svc")
    intercept[IllegalArgumentException](reg.describeUser("svc"))
  }

  test("alterRole: descriptions mutate, default roles immutable") {
    val reg = new Rbac.Registry
    reg.createRole("ops")
    assert(reg.describeRole("ops") == (("", Nil)))
    reg.alterRole("ops", "on-call operators")
    assert(reg.describeRole("ops")._1 == "on-call operators")
    reg.alterRole("ops", "") // clear
    assert(reg.describeRole("ops")._1 == "")
    // the reference rejects altering admin/public (default roles)
    intercept[IllegalArgumentException](reg.alterRole("admin", "x"))
    intercept[IllegalArgumentException](reg.alterRole("public", "x"))
    intercept[IllegalArgumentException](reg.alterRole("ghost", "x"))
    // describeRole also lists the role's grants
    reg.grant("ops", "Flush", "events")
    assert(reg.describeRole("ops")._2 ==
      Seq(Rbac.Grant("ops", "Flush", "events")))
  }

  test("operatePrivilegeV2: db-scoped grants with wildcards") {
    val reg = new Rbac.Registry
    reg.createRole("analyst")
    reg.addUserToRole("ana", "analyst")
    // collection-wildcard grant scoped to ONE database
    reg.grantV2("analyst", "CollectionReadOnly", "prod", "*")
    assert(reg.allowed("ana", "Query", "prod", "events"))
    assert(reg.allowed("ana", "Search", "prod", "anything"))
    assert(!reg.allowed("ana", "Query", "staging", "events"),
      "v2 grant is per database")
    assert(!reg.allowed("ana", "Insert", "prod", "events"),
      "ReadOnly excludes writes")
    // db-wildcard grant: one privilege everywhere
    reg.grantV2("analyst", "Flush", "*", "logs")
    assert(reg.allowed("ana", "Flush", "prod", "logs"))
    assert(reg.allowed("ana", "Flush", "staging", "logs"))
    assert(!reg.allowed("ana", "Flush", "prod", "other"))
    // exact-match revoke
    reg.revokeV2("analyst", "CollectionReadOnly", "prod", "*")
    assert(!reg.allowed("ana", "Query", "prod", "events"))
    assert(reg.listGrantsV2("analyst") ==
      Seq(Rbac.GrantV2("analyst", "Flush", "*", "logs")))
    // validation mirrors v1
    intercept[IllegalArgumentException](
      reg.grantV2("ghost", "Query", "*", "*"))
    intercept[IllegalArgumentException](
      reg.grantV2("analyst", "NotAPrivilege", "*", "*"))
    intercept[IllegalArgumentException](
      reg.grantV2("analyst", "Query", "", "*"))
    // v1 grants stay db-agnostic through the db-scoped check
    reg.grant("analyst", "Compaction", "events")
    assert(reg.allowed("ana", "Compaction", "whatever-db", "events"))
  }

  test("facade: the v2 db scope is enforced at the operation gate") {
    val reg = new Rbac.Registry
    reg.createRole("reader")
    reg.addUserToRole("dana", "reader")
    reg.grantV2("reader", "CollectionReadOnly", "prod", "*")
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 10L))
    c.setUser(Rls.UserContext("dana"))
    // the collection's home db is part of the check: the prod-scoped
    // grant opens reads there...
    c.enableRbac(reg, "docs", db = "prod")
    assert(c.count() == 10)
    intercept[SecurityException] { c.insert(mkRows(Seq(50L))) }
    // ...and does NOT leak into another database
    c.enableRbac(reg, "docs", db = "staging")
    intercept[SecurityException] { c.count() }
    // a v1 grant stays db-agnostic (it carries no db scope)
    reg.grant("reader", "GetStatistics", "docs")
    assert(c.statistics("row_count") == "10")
  }

  test("v2 grants guard group drops and ride backup/restore") {
    val reg = new Rbac.Registry
    reg.createRole("ops")
    reg.addUserToRole("o1", "ops")
    reg.createPrivilegeGroup("SegmentOps")
    reg.operatePrivilegeGroup("SegmentOps", Set("Flush", "Compaction"), add = true)
    reg.grantV2("ops", "SegmentOps", "prod", "*")
    assert(reg.allowed("o1", "Compaction", "prod", "events"),
      "custom group membership resolves through a v2 grant")
    // a group referenced by a v2 grant cannot drop
    intercept[IllegalArgumentException](reg.dropPrivilegeGroup("SegmentOps"))
    reg.alterRole("ops", "segment operators")
    val b = reg.backup()
    val fresh = new Rbac.Registry
    fresh.restore(b)
    assert(fresh.allowed("o1", "Flush", "prod", "x"))
    assert(!fresh.allowed("o1", "Flush", "staging", "x"))
    assert(fresh.describeRole("ops")._1 == "segment operators")
    assert(fresh.listGrantsV2("ops") ==
      Seq(Rbac.GrantV2("ops", "SegmentOps", "prod", "*")))
    // dropRole clears v2 grants and the description
    reg.revokeV2("ops", "SegmentOps", "prod", "*")
    reg.dropRole("ops")
    assert(reg.listGrantsV2("ops").isEmpty)
    reg.dropPrivilegeGroup("SegmentOps") // now unreferenced — drops fine
  }
}
