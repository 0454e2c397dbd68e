package graft.store

import graft.SparkTestBase
import graft.query.{CmpF, F, StringF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write store semantics (SURVEY §4.3): unique keys, swallowed
  * duplicates, update/delete rewrites, upsert MERGE, transaction atomicity,
  * snapshot isolation. */
class StoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshCatalog(): Catalog =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-store").toString)

  private val urlSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("location", StringType, nullable = true),
    StructField("status", BooleanType, nullable = true),
    StructField("notes", StringType, nullable = true),
    StructField("createdAt", TimestampType, nullable = true),
    StructField("updatedAt", TimestampType, nullable = true)))

  private def urlTable(cat: Catalog): GraftTable =
    new GraftTable(spark, cat, "google_place_url_to_scrape", urlSchema,
      uniqueKeys = Seq(Seq("id"), Seq("url")),
      timestampCols = Seq("createdAt", "updatedAt"))

  private def urlRows(rows: (String, String, Option[String])*): DataFrame =
    rows.toSeq.toDF("id", "url", "location")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))

  test("empty snapshot before first insert") {
    val t = urlTable(freshCatalog())
    assert(t.snapshot().count() == 0)
  }

  test("createMany inserts and fills timestamp defaults") {
    val t = urlTable(freshCatalog())
    val n = t.createMany(urlRows(("u1", "https://a", Some("NY")), ("u2", "https://b", None)))
    assert(n == 2 && t.snapshot().count() == 2)
    val row = t.snapshot().filter($"id" === "u1").head()
    assert(row.getAs[java.sql.Timestamp]("createdAt") != null)
  }

  test("duplicate url swallowed with skipDuplicates (extractGooglePlaces.ts:305-317)") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", None)))
    val n = t.createMany(urlRows(("u9", "https://a", None), ("u2", "https://b", None)),
      skipDuplicates = true)
    assert(n == 1) // only u2 inserted; u9 had a duplicate url
    assert(t.snapshot().count() == 2)
  }

  test("duplicate unique key throws P2002-equivalent without skipDuplicates") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", None)))
    intercept[UniqueViolationException] {
      t.createMany(urlRows(("u3", "https://a", None)))
    }
    assert(t.snapshot().count() == 1) // nothing published
  }

  test("in-batch duplicates deduped under skipDuplicates") {
    val t = urlTable(freshCatalog())
    val n = t.createMany(urlRows(("u1", "https://a", None), ("u1", "https://zzz", None)),
      skipDuplicates = true)
    assert(n == 1)
  }

  test("NULL unique-key values never conflict (SQL UNIQUE: multiple NULLs allowed)") {
    val cat = freshCatalog()
    val t = new GraftTable(spark, cat, "contact", StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("email", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id"), Seq("email")))
    // two NULL emails in ONE batch insert fine (Postgres admits both)...
    assert(t.createMany(Seq(("c1", Option.empty[String]),
      ("c2", Option.empty[String])).toDF("id", "email")) == 2)
    // ...and another NULL email against the committed snapshot does too,
    // while a REAL duplicate email still throws
    assert(t.createMany(Seq(("c3", Option.empty[String]),
      ("c4", Some("x@y.z"))).toDF("id", "email")) == 2)
    intercept[UniqueViolationException] {
      t.createMany(Seq(("c5", Some("x@y.z"))).toDF("id", "email"))
    }
    assert(t.snapshot().filter($"email".isNull).count() == 3)
  }

  test("update sets fields, touches updatedAt, leaves others (runner/locator.ts:136-141)") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", Some("NY")), ("u2", "https://b", None)))
    val before = t.snapshot().filter($"id" === "u2").head()
    val n = t.update(F.eq("id", "u1"), Map("status" -> lit(true), "notes" -> lit("ok")))
    assert(n == 1)
    val after = t.snapshot()
    val u1 = after.filter($"id" === "u1").head()
    assert(u1.getAs[Boolean]("status") && u1.getAs[String]("notes") == "ok")
    assert(u1.getAs[java.sql.Timestamp]("updatedAt") != null)
    val u2 = after.filter($"id" === "u2").head()
    assert(u2.getAs[Any]("status") == null)
    assert(u2.getAs[java.sql.Timestamp]("updatedAt") == before.getAs[java.sql.Timestamp]("updatedAt"))
  }

  test("update with no match throws P2025-equivalent; updateMany returns 0") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", None)))
    intercept[RecordNotFoundException] {
      t.update(F.eq("id", "nope"), Map("status" -> lit(true)))
    }
    assert(t.updateMany(F.eq("id", "nope"), Map("status" -> lit(true))) == 0)
  }

  test("tri-state status poll transition: null -> true/false (runner/locator.ts:133-143)") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None), ("u3", "https://c", None)))
    t.update(F.eq("id", "u1"), Map("status" -> lit(true)))
    t.update(F.eq("id", "u2"), Map("status" -> lit(false)))
    val pending = t.snapshot().filter(col("status").isNull)
    assert(pending.select("id").as[String].collect().toSet == Set("u3"))
  }

  test("deleteMany filters rows out; delete requires a match") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", Some("X")), ("u2", "https://b", Some("X")), ("u3", "https://c", None)))
    assert(t.deleteMany(F.str("location", StringF(equals = Some(Some("X"))))) == 2)
    assert(t.snapshot().count() == 1)
    intercept[RecordNotFoundException] { t.delete(F.eq("id", "u1")) }
  }

  test("upsert inserts new and replaces existing (MERGE; effect.ts:535-541)") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", Some("old")), ("u2", "https://b", None)))
    t.upsert(Seq("id"), urlRows(("u1", "https://a", Some("new")), ("u3", "https://c", None)))
    val snap = t.snapshot()
    assert(snap.count() == 3)
    assert(snap.filter($"id" === "u1").head().getAs[String]("location") == "new")
  }

  test("upsert is idempotent (property over random batches)") {
    val t = urlTable(freshCatalog())
    val rnd = new scala.util.Random(7)
    val batch = urlRows((1 to 30).map(i =>
      (s"u${rnd.nextInt(10)}", s"https://${rnd.nextInt(10)}", Some(rnd.nextInt(3).toString))): _*)
    t.upsert(Seq("id"), batch)
    val once = t.snapshot().select("id", "url", "location").collect().toSet
    t.upsert(Seq("id"), batch)
    val twice = t.snapshot().select("id", "url", "location").collect().toSet
    assert(once == twice)
    assert(t.snapshot().select("id").distinct().count() == t.snapshot().count())
  }

  test("transaction publishes atomically; failure publishes nothing (effect.ts:369-396)") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    t.createMany(urlRows(("u1", "https://a", None)))
    // failing interactive transaction: second statement violates unique key
    intercept[UniqueViolationException] {
      Txn.run(cat) { tx =>
        tx.createMany(t, urlRows(("u2", "https://b", None)), skipDuplicates = false)
        tx.create(t, urlRows(("u3", "https://a", None))) // dup url → throws
      }
    }
    assert(t.snapshot().count() == 1) // u2 NOT published
    // successful multi-statement txn with read-your-writes
    Txn.run(cat) { tx =>
      tx.createMany(t, urlRows(("u2", "https://b", None)), skipDuplicates = false)
      tx.updateMany(t, F.eq("id", "u2"), Map("status" -> lit(true)))
    }
    val u2 = t.snapshot().filter($"id" === "u2").head()
    assert(u2.getAs[Boolean]("status"))
  }

  test("snapshot isolation: a reader holding an old snapshot is unaffected") {
    val t = urlTable(freshCatalog())
    t.createMany(urlRows(("u1", "https://a", None)))
    val old = t.snapshot()
    old.count() // materialize file listing
    t.createMany(urlRows(("u2", "https://b", None)))
    assert(old.count() == 1)
    assert(t.snapshot().count() == 2)
  }

  test("optimistic concurrency: stale base version fails the commit") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    t.createMany(urlRows(("u1", "https://a", None)))
    val tx1 = new Txn(cat)
    tx1.createMany(t, urlRows(("u2", "https://b", None)), skipDuplicates = false)
    // concurrent writer lands first
    t.createMany(urlRows(("u3", "https://c", None)))
    intercept[ConcurrentModificationException] { tx1.commit() }
  }

  // ---------- partition-scoped copy-on-write ----------

  private def partitionedTable(cat: Catalog): GraftTable =
    new GraftTable(spark, cat, "google_place_url_to_scrape", urlSchema,
      uniqueKeys = Seq(Seq("id"), Seq("url")),
      timestampCols = Seq("createdAt", "updatedAt"),
      partitionCols = Seq("status"))

  /** All regular files under a slice dir → (relative name, size, mtime). */
  private def fileState(dir: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => (p.relativize(f).toString, java.nio.file.Files.size(f),
        java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toSet
  }

  test("update rewrites only touched partitions; others stay byte-identical") {
    val cat = freshCatalog()
    val t = partitionedTable(cat)
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None),
      ("u3", "https://c", None)))
    // move u1 to status=true — creates the status=true slice
    t.update(F.eq("id", "u1"), Map("status" -> lit(true)))
    val afterFirst = cat.partVersions(t.name)
    assert(afterFirst.keySet == Set("status=__NULL__", "status=true"))
    val trueDir = cat.currentDirs(t.name)("status=true")
    val trueFiles = fileState(trueDir)
    // now flip u2 to false: touches __NULL__ (source) and false (dest) ONLY
    t.update(F.eq("id", "u2"), Map("status" -> lit(false)))
    val afterSecond = cat.partVersions(t.name)
    assert(afterSecond("status=true") == afterFirst("status=true"),
      "untouched slice must keep its version id")
    assert(afterSecond("status=__NULL__") != afterFirst("status=__NULL__"))
    assert(afterSecond.contains("status=false"))
    assert(fileState(trueDir) == trueFiles, "untouched slice files must be byte-identical")
    // table contents still correct
    val snap = t.snapshot()
    assert(snap.count() == 3)
    assert(snap.filter($"id" === "u1").head().getAs[Boolean]("status"))
    assert(!snap.filter($"id" === "u2").head().getAs[Boolean]("status"))
    assert(snap.filter($"id" === "u3").head().getAs[Any]("status") == null)
  }

  test("non-partition-column update touches only the matched row's slice") {
    val cat = freshCatalog()
    val t = partitionedTable(cat)
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None)))
    t.update(F.eq("id", "u1"), Map("status" -> lit(true)))
    val before = cat.partVersions(t.name)
    // notes-only update on the status=true row: NULL slice must not move
    t.update(F.eq("id", "u1"), Map("notes" -> lit("seen")))
    val after = cat.partVersions(t.name)
    assert(after("status=__NULL__") == before("status=__NULL__"))
    assert(after("status=true") != before("status=true"))
    assert(t.snapshot().filter($"id" === "u1").head().getAs[String]("notes") == "seen")
  }

  test("snapshotSlice prunes to matching partition dirs at the catalog level") {
    val cat = freshCatalog()
    val t = partitionedTable(cat)
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None),
      ("u3", "https://c", None)))
    t.update(F.eq("id", "u1"), Map("status" -> lit(true)))
    val pending = t.snapshotSlice(Map("status" -> null))
    assert(pending.select("id").as[String].collect().toSet == Set("u2", "u3"))
    assert(t.snapshotSlice(Map("status" -> true)).count() == 1)
    assert(t.snapshotSlice(Map("status" -> false)).count() == 0)
  }

  test("partitioned txn: atomic flip + insert across slices (pipeline workload)") {
    val cat = freshCatalog()
    val t = partitionedTable(cat)
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None)))
    Txn.run(cat) { tx =>
      tx.updateMany(t, F.eq("id", "u1"), Map("status" -> lit(true)))
      tx.createMany(t, urlRows(("u4", "https://d", None)), skipDuplicates = false)
    }
    val snap = t.snapshot()
    assert(snap.count() == 3)
    assert(snap.filter(col("status").isNull).count() == 2)
    // unique keys still enforced across slices
    intercept[UniqueViolationException] {
      t.createMany(urlRows(("u9", "https://a", None)))
    }
  }

  // ---------- nested writes ----------

  test("createNested: nested 1-1 create sees only actually-inserted parents") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    val child = new GraftTable(spark, cat, "child", StructType(Seq(
      StructField("cid", StringType, nullable = false),
      StructField("parent", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("cid")))
    t.createMany(urlRows(("u1", "https://a", None)))
    // u1 is a duplicate -> swallowed; only u2's nested child must appear
    val n = t.createNested(
      urlRows(("u1", "https://zzz", None), ("u2", "https://b", None)),
      Seq(NestedCreate(child, b => b.select(
        concat(lit("c-"), col("id")).as("cid"), col("id").as("parent")))),
      skipDuplicates = true)
    assert(n == 1)
    assert(child.snapshot().select("cid").as[String].collect().toSeq == Seq("c-u2"))
  }

  test("createNested: null-keyed parents are rejected P2011, not silently child-less") {
    val cat = freshCatalog()
    val t = new GraftTable(spark, cat, "lead", StructType(Seq(
      StructField("extId", StringType, nullable = true),
      StructField("payload", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("extId")))
    val child = new GraftTable(spark, cat, "note", StructType(Seq(
      StructField("nid", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("nid")))
    // a null business key has no pairing identity: the semi-join back to
    // payload rows can never match it, so its children would silently be
    // skipped — the store refuses instead
    val e = intercept[NullConstraintException] {
      t.createNested(
        Seq((None: Option[String], Some("p1")), (Some("k"), Some("p2")))
          .toDF("extId", "payload"),
        Seq(NestedCreate(child,
          b => b.select(concat(lit("n-"), col("extId")).as("nid")))))
    }
    assert(e.getMessage.contains("P2011"))
    assert(t.snapshot().count() == 0 && child.snapshot().count() == 0)
  }

  test("createNested under skipDuplicates: children derive from the row that was inserted") {
    val cat = freshCatalog()
    val t = new GraftTable(spark, cat, "lead", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    val child = new GraftTable(spark, cat, "note", StructType(Seq(
      StructField("nid", StringType, nullable = false),
      StructField("tag", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("nid")))
    // two in-batch duplicates of id=1 with DIFFERENT payloads: whichever
    // survives, the committed parent row and the derived child must agree
    t.createNested(
      Seq((1L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("id", "tag"),
      Seq(NestedCreate(child, b => b.select(
        concat(lit("n-"), col("id")).as("nid"), col("tag")))),
      skipDuplicates = true)
    val parentTags = t.snapshot().select($"id", $"tag").as[(Long, String)]
      .collect().toMap
    val childTags = child.snapshot()
      .select(regexp_replace($"nid", "n-", "").cast("long"), $"tag")
      .as[(Long, String)].collect().toMap
    assert(parentTags == childTags)
    assert(parentTags.keySet == Set(1L, 2L))
  }

  test("connectOrCreate requires unique keys on relation and link tables") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    val keyless = new GraftTable(spark, cat, "rel", StructType(Seq(
      StructField("tag", StringType, nullable = false))))
    val link = new GraftTable(spark, cat, "lnk", StructType(Seq(
      StructField("a", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("a")))
    // without a unique key, skipDuplicates dedups nothing and the
    // "connect existing" half silently becomes unconditional create
    intercept[IllegalArgumentException] {
      t.createNested(urlRows(("u1", "https://a", None)),
        Seq(ConnectOrCreate(keyless, b => b.select(lit("x").as("tag")),
          link, b => b.select(lit("x").as("a")))))
    }
  }

  test("updateNested: nested child rows derive from the post-update matched slice") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    val audit = new GraftTable(spark, cat, "audit", StructType(Seq(
      StructField("aid", StringType, nullable = false),
      StructField("statusNow", BooleanType, nullable = true))),
      uniqueKeys = Seq(Seq("aid")))
    t.createMany(urlRows(("u1", "https://a", None), ("u2", "https://b", None)))
    val n = Txn.run(cat) { tx =>
      tx.updateNested(t, F.eq("id", "u1"), Map("status" -> lit(true)),
        Seq(NestedCreate(audit, b => b.select(
          concat(lit("a-"), col("id")).as("aid"), col("status").as("statusNow")))))
    }
    assert(n == 1)
    val row = audit.snapshot().head()
    // the nested row saw the POST-update state (status=true), u2 untouched
    assert(row.getAs[String]("aid") == "a-u1" && row.getAs[Boolean]("statusNow"))
    assert(audit.snapshot().count() == 1)
  }

  test("createNested: failing nested write rolls back the parent too") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    val child = new GraftTable(spark, cat, "child", StructType(Seq(
      StructField("cid", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("cid")))
    child.createMany(Seq("c-u7").toDF("cid"))
    intercept[UniqueViolationException] {
      Txn.run(cat) { tx =>
        tx.createNested(t, urlRows(("u7", "https://g", None)),
          Seq(NestedCreate(child,
            b => b.select(concat(lit("c-"), col("id")).as("cid")),
            skipDuplicates = false)))
      }
    }
    assert(t.snapshot().count() == 0, "parent must not be published")
  }

  // ---------------- FK ON DELETE RESTRICT (P2003) ----------------

  private def companyPair(cat: Catalog): (GraftTable, GraftTable) = {
    val company = new GraftTable(spark, cat, "company",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("name")))
    val events = new GraftTable(spark, cat, "crm_sync_event",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("companyId", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("companyId")))
    company.onDeleteRestrict(events, "companyId", "id")
    (company, events)
  }

  test("deleting a company with a live CrmSyncEvent throws P2003 (migration.sql:93)") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    company.createMany(Seq(("c1", "Acme"), ("c2", "Blob")).toDF("id", "name"))
    events.createMany(Seq(("e1", "c1")).toDF("id", "companyId"))
    val ex = intercept[ForeignKeyViolationException] {
      company.delete(F.eq("id", "c1"))
    }
    assert(ex.code == "P2003")
    // nothing was published — the doomed row is still there
    assert(company.snapshot().count() == 2)
    // an unreferenced parent deletes fine
    assert(company.delete(F.eq("id", "c2")) == 1)
  }

  test("deleteMany and deleteWhereIn enforce RESTRICT too") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    company.createMany(Seq(("c1", "Acme"), ("c2", "Blob")).toDF("id", "name"))
    events.createMany(Seq(("e1", "c1")).toDF("id", "companyId"))
    intercept[ForeignKeyViolationException] {
      company.deleteMany(F.str("name", StringF(contains = Some("c"), insensitive = true)))
    }
    intercept[ForeignKeyViolationException] {
      Txn.run(cat)(_.deleteWhereIn(company, "id", Seq("c1").toDF("id")))
    }
    assert(company.snapshot().count() == 2)
  }

  test("child-first delete inside one transaction passes RESTRICT (syncCrm.ts:108-113)") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    company.createMany(Seq(("c1", "Acme")).toDF("id", "name"))
    events.createMany(Seq(("e1", "c1")).toDF("id", "companyId"))
    // the RESTRICT probe reads the child through the txn's staged state,
    // so deleting the referencing events first unblocks the parent delete
    Txn.run(cat) { tx =>
      tx.deleteMany(events, F.eq("companyId", "c1"))
      tx.delete(company, F.eq("id", "c1"))
    }
    assert(company.snapshot().count() == 0)
    assert(events.snapshot().count() == 0)
  }

  test("inserting a child with a dangling FK throws P2003 (orphan insert)") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    company.createMany(Seq(("c1", "Acme")).toDF("id", "name"))
    val ex = intercept[ForeignKeyViolationException] {
      events.createMany(Seq(("e1", "c1"), ("e2", "ghost")).toDF("id", "companyId"))
    }
    assert(ex.code == "P2003")
    assert(events.snapshot().count() == 0, "nothing published on FK failure")
    // a valid batch inserts fine
    assert(events.createMany(Seq(("e1", "c1")).toDF("id", "companyId")) == 1)
  }

  test("parent-then-child inside one transaction passes the FK probe") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    Txn.run(cat) { tx =>
      tx.createMany(company, Seq(("c9", "New")).toDF("id", "name"), skipDuplicates = false)
      tx.createMany(events, Seq(("e9", "c9")).toDF("id", "companyId"), skipDuplicates = false)
    }
    assert(events.snapshot().count() == 1)
  }

  test("NULL FK values pass (MATCH SIMPLE), update to a dangling FK fails") {
    val cat = freshCatalog()
    val company = new GraftTable(spark, cat, "companyN",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    val events = new GraftTable(spark, cat, "eventN",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("companyId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    company.onDeleteRestrict(events, "companyId", "id")
    company.createMany(Seq(("c1", "Acme")).toDF("id", "name"))
    // SQL MATCH SIMPLE: a NULL FK references nothing and is legal
    assert(events.createMany(
      Seq(("e1", Some("c1")), ("e2", None)).toDF("id", "companyId")) == 2)
    // rewriting the FK column re-validates the post-update state
    intercept[ForeignKeyViolationException] {
      events.update(F.eq("id", "e1"), Map("companyId" -> lit("ghost")))
    }
    assert(events.snapshot().filter(col("companyId") === "ghost").count() == 0)
    // updating to NULL is fine
    assert(events.update(F.eq("id", "e1"), Map("companyId" -> lit(null).cast("string"))) == 1)
  }

  test("FK covers every write path: updateManyAndReturn, in-batch self-FK, skipDuplicates, parent-key rewrite") {
    val cat = freshCatalog()
    val (company, events) = companyPair(cat)
    company.createMany(Seq(("c1", "Acme")).toDF("id", "name"))
    events.createMany(Seq(("e1", "c1")).toDF("id", "companyId"))
    // updateManyAndReturn must not bypass the FK re-validation
    intercept[ForeignKeyViolationException] {
      events.updateManyAndReturn(F.eq("id", "e1"), Map("companyId" -> lit("ghost")))
    }
    // a duplicate row dropped by skipDuplicates is never FK-checked
    // (ON CONFLICT DO NOTHING semantics): e1 is a dup, its dangling FK is
    // irrelevant; e2 is new and valid (companyId is unique here → new company)
    company.createMany(Seq(("c2", "Blob")).toDF("id", "name"))
    assert(events.createMany(
      Seq(("e1", "ghost"), ("e2", "c2")).toDF("id", "companyId"),
      skipDuplicates = true) == 1)
    // rewriting the referenced parent key CASCADES into children in the
    // same commit (ON UPDATE CASCADE, migration.sql:93 — Prisma default)
    company.update(F.eq("id", "c1"), Map("id" -> lit("c99")))
    assert(company.snapshot().filter(col("id") === "c99").count() == 1)
    assert(events.snapshot().filter(col("id") === "e1")
      .select("companyId").as[String].head() == "c99")
    // self-referential FK satisfied within one batch (end-of-statement check)
    val tree = new GraftTable(spark, cat, "tree",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("parentId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    tree.onDeleteRestrict(tree, "parentId", "id")
    assert(tree.createMany(
      Seq(("root", None), ("leaf", Some("root"))).toDF("id", "parentId")) == 2)
    intercept[ForeignKeyViolationException] {
      tree.createMany(Seq(("stray", Some("nowhere"))).toDF("id", "parentId"))
    }
  }

  test("compact bin-packs small slice files without changing data") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    // parallel writes leave one part-file per task — a small slice ends up
    // holding several tiny files
    (1 to 6).foreach(i => t.createMany(urlRows((s"u$i", s"https://site$i", None))))
    val before = t.snapshot().orderBy(col("id")).collect()
    val dirBefore = cat.currentDirs(t.name).values.head
    val filesBefore = new java.io.File(dirBefore).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(filesBefore > 2, s"expected >2 data files, saw $filesBefore")

    assert(t.compact(maxFiles = 2) == 1)
    val dirAfter = cat.currentDirs(t.name).values.head
    assert(dirAfter != dirBefore, "compaction must publish a NEW version")
    val filesAfter = new java.io.File(dirAfter).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(filesAfter == 1)
    assert(t.snapshot().orderBy(col("id")).collect().toSeq == before.toSeq)
    // old version stays readable until vacuum (snapshot retention)
    assert(new java.io.File(dirBefore).exists())
    cat.vacuum()
    assert(!new java.io.File(dirBefore).exists())
    // an already-packed slice is a no-op
    assert(t.compact(maxFiles = 2) == 0)
  }

  test("vacuum drops non-current versions but keeps current") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    t.createMany(urlRows(("u1", "https://a", None)))
    t.createMany(urlRows(("u2", "https://b", None)))
    cat.vacuum()
    assert(t.snapshot().count() == 2)
  }

  test("vacuum retention keeps young non-current versions readable") {
    val cat = freshCatalog()
    val t = urlTable(cat)
    t.createMany(urlRows(("u1", "https://a", None)))
    val old = t.snapshot()
    old.count()
    t.createMany(urlRows(("u2", "https://b", None)))
    // retention window covers the old version -> old snapshot still reads
    cat.vacuum(retainMs = 3600000)
    assert(old.count() == 1)
    // zero retention reclaims it
    cat.vacuum(retainMs = 0)
    assert(t.snapshot().count() == 2)
  }

  test("ON DELETE CASCADE removes join-table rows atomically; RESTRICT still blocks (migration.sql:96-99)") {
    val cat = freshCatalog()
    val company = new GraftTable(spark, cat, "company",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("name")))
    val service = new GraftTable(spark, cat, "firm_service",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("name")))
    val link = new GraftTable(spark, cat, "company_to_firm_service",
      StructType(Seq(
        StructField("A", StringType, nullable = false),
        StructField("B", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("A", "B")))
    val events = new GraftTable(spark, cat, "crm_sync_event",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("companyId", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    company.onDeleteCascade(link, "A", "id")
    service.onDeleteCascade(link, "B", "id")
    company.onDeleteRestrict(events, "companyId", "id")

    company.createMany(Seq(("c1", "Acme"), ("c2", "Blob")).toDF("id", "name"))
    service.createMany(Seq(("s1", "Family Law"), ("s2", "Tax Law")).toDF("id", "name"))
    link.createMany(Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1")).toDF("A", "B"))
    events.createMany(Seq(("e1", "c2")).toDF("id", "companyId"))

    // deleting c1 removes BOTH its link rows in the same commit
    val before = cat.currentCommitId()
    assert(company.delete(F.eq("id", "c1")) == 1)
    assert(cat.currentCommitId() == before + 1, "cascade must share the parent's commit")
    assert(link.snapshot().select("A").as[String].collect().toSeq == Seq("c2"))
    // deleting a service cascades from the other side of the join table
    assert(service.delete(F.eq("id", "s1")) == 1)
    assert(link.snapshot().count() == 0)
    // RESTRICT is unaffected: c2 still has a live sync event
    val ex = intercept[ForeignKeyViolationException] {
      company.delete(F.eq("id", "c2"))
    }
    assert(ex.code == "P2003")
    assert(company.snapshot().count() == 1 && events.snapshot().count() == 1)
    // a dangling link insert is P2003 either way (FK constrains writes too)
    intercept[ForeignKeyViolationException] {
      link.createMany(Seq(("ghost", "s2")).toDF("A", "B"))
    }
  }

  test("ON UPDATE CASCADE rewrites child FK values atomically (migration.sql:96-99)") {
    val cat = freshCatalog()
    val company = new GraftTable(spark, cat, "company",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("name")))
    val link = new GraftTable(spark, cat, "company_to_firm_service",
      StructType(Seq(
        StructField("A", StringType, nullable = false),
        StructField("B", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("A", "B")))
    val events = new GraftTable(spark, cat, "crm_sync_event",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("companyId", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    company.onDeleteCascade(link, "A", "id")
    company.onDeleteRestrict(events, "companyId", "id")
    company.createMany(Seq(("c1", "Acme"), ("c2", "Blob")).toDF("id", "name"))
    link.createMany(Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1")).toDF("A", "B"))
    events.createMany(Seq(("e1", "c1")).toDF("id", "companyId"))

    val before = cat.currentCommitId()
    // key rewrite cascades into BOTH child tables in one commit
    assert(company.update(F.eq("id", "c1"), Map("id" -> lit("c9"))) == 1)
    assert(cat.currentCommitId() == before + 1)
    assert(link.snapshot().filter(col("A") === "c9").count() == 2)
    assert(link.snapshot().filter(col("A") === "c1").count() == 0)
    assert(link.snapshot().filter(col("A") === "c2").count() == 1, "unrelated rows untouched")
    assert(events.snapshot().select("companyId").as[String].head() == "c9")
    // a no-op rewrite (same value) stages nothing extra in children
    assert(company.update(F.eq("id", "c2"), Map("name" -> lit("Blob2"))) == 1)
    assert(link.snapshot().filter(col("A") === "c2").count() == 1)
    // an AMBIGUOUS remap (several matched rows collapse one referenced
    // key to different new values) must be refused, not fan the child out
    val tag = new GraftTable(spark, cat, "tag",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("grp", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    val tagRef = new GraftTable(spark, cat, "tag_ref",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("grpRef", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    tag.onDeleteCascade(tagRef, "grpRef", "grp") // grp is NOT unique
    tag.createMany(Seq(("t1", "g"), ("t2", "g")).toDF("id", "grp"))
    tagRef.createMany(Seq(("r1", "g")).toDF("id", "grpRef"))
    intercept[ForeignKeyViolationException] {
      // both matched rows carry grp='g' but map it to different values
      tag.updateMany(F.raw(col("id").isin("t1", "t2")),
        Map("grp" -> concat(lit("x-"), col("id"))))
    }
    assert(tagRef.snapshot().select("grpRef").as[String].head() == "g",
      "nothing published on refusal")
  }

  test("self-referential CASCADE: descendants die with the root, same commit") {
    // Regression: the statement's own stage used to run LAST and clobber
    // the cascade's staged slices for the same table — descendants were
    // resurrected with dangling parents.
    val cat = freshCatalog()
    val tree = new GraftTable(spark, cat, "tree",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("parentId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    tree.onDeleteCascade(tree, "parentId", "id")
    tree.createMany(Seq(
      ("root", None), ("kid", Some("root")), ("grandkid", Some("kid")),
      ("other", None)).toDF("id", "parentId"))
    val before = cat.currentCommitId()
    assert(tree.delete(F.eq("id", "root")) == 1)
    assert(cat.currentCommitId() == before + 1, "one atomic commit")
    // the whole chain is gone; the unrelated root survives
    assert(tree.snapshot().select("id").as[String].collect().sorted.toSeq
      == Seq("other"))
  }

  test("self-referential ON UPDATE CASCADE: children follow the renamed key") {
    val cat = freshCatalog()
    val tree = new GraftTable(spark, cat, "tree2",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("parentId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    tree.onDeleteCascade(tree, "parentId", "id")
    tree.createMany(Seq(
      ("root", None), ("kid", Some("root"))).toDF("id", "parentId"))
    assert(tree.update(F.eq("id", "root"), Map("id" -> lit("trunk"))) == 1)
    val rows = tree.snapshot().orderBy("id")
      .as[(String, Option[String])].collect().toSeq
    // BOTH the rename and the FK rewrite are published
    assert(rows == Seq(("kid", Some("trunk")), ("trunk", None)), rows.toString)
  }

  test("ON UPDATE CASCADE refuses a remap that collides a child unique key") {
    val cat = freshCatalog()
    val grp = new GraftTable(spark, cat, "grp",
      StructType(Seq(StructField("g", StringType, nullable = false))),
      uniqueKeys = Nil) // g NOT unique
    val ref = new GraftTable(spark, cat, "grp_ref",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("gRef", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id"), Seq("gRef")))
    grp.onDeleteCascade(ref, "gRef", "g")
    grp.createMany(Seq("g1", "g2").toDF("g"))
    ref.createMany(Seq(("r1", "g1"), ("r2", "g2")).toDF("id", "gRef"))
    // consistent many->one remap: both g1 and g2 become 'z' (unambiguous
    // per old key) — but rewriting gRef would put two 'z' rows into a
    // UNIQUE column, the Postgres unique_violation shape
    intercept[UniqueViolationException] {
      grp.updateMany(F.raw(col("g").isin("g1", "g2")),
        Map("g" -> lit("z")))
    }
    assert(ref.snapshot().select("gRef").as[String].collect().sorted.toSeq
      == Seq("g1", "g2"), "nothing published on refusal")
  }

  test("ON UPDATE CASCADE propagates a NULL new key (or throws on NOT NULL child)") {
    val cat = freshCatalog()
    // the parent key column must itself be NULLABLE for a NULL remap to be
    // a legal statement — Postgres raises not_null_violation on
    // `UPDATE parent SET g = NULL` before any cascade when g is NOT NULL
    // (and so does the engine's update-path P2011 check)
    val grp = new GraftTable(spark, cat, "grpn",
      StructType(Seq(StructField("g", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("g")))
    val refNullable = new GraftTable(spark, cat, "refn",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("gRef", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    grp.onDeleteCascade(refNullable, "gRef", "g")
    grp.createMany(Seq("g1", "g2").toDF("g"))
    refNullable.createMany(Seq(("r1", "g1"), ("r2", "g2")).toDF("id", "gRef"))
    // remap g1 -> NULL: the child FK follows to NULL (MATCH SIMPLE), it
    // must NOT silently keep the dangling old value
    assert(grp.update(F.eq("g", "g1"), Map("g" -> lit(null))) == 1)
    val got = refNullable.snapshot().orderBy("id")
      .as[(String, Option[String])].collect().toSeq
    assert(got == Seq(("r1", None), ("r2", Some("g2"))), got.toString)
    // a NOT NULL child column refuses the NULL cascade (P2011 shape)
    val refStrict = new GraftTable(spark, cat, "refs",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("gRef", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    grp.onDeleteCascade(refStrict, "gRef", "g")
    refStrict.createMany(Seq(("s1", "g2")).toDF("id", "gRef"))
    intercept[NullConstraintException] {
      grp.update(F.eq("g", "g2"), Map("g" -> lit(null)))
    }
    assert(refStrict.snapshot().select("gRef").as[String].head() == "g2")
  }

  test("self-referential RESTRICT rejects same-statement parent+child delete (immediate check)") {
    val cat = freshCatalog()
    val tree = new GraftTable(spark, cat, "tree3",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("parentId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    tree.onDeleteRestrict(tree, "parentId", "id")
    tree.createMany(Seq(
      ("root", None), ("kid", Some("root"))).toDF("id", "parentId"))
    // Postgres RESTRICT is immediate and non-deferrable: deleting root
    // and kid in ONE statement still errors (NO ACTION would allow it)
    intercept[ForeignKeyViolationException] {
      tree.deleteMany(F.raw(col("id").isin("root", "kid")))
    }
    assert(tree.snapshot().count() == 2, "nothing published")
    // two statements in one txn still compose: children first, then root
    Txn.run(cat) { tx =>
      tx.deleteMany(tree, F.eq("id", "kid"))
      tx.deleteMany(tree, F.eq("id", "root"))
    }
    assert(tree.snapshot().count() == 0)
  }

  test("composite unique key columns are NOT individually unique in model()") {
    // Regression: flattening Seq(Seq("a","b")) into uniqueKeys let
    // findUnique("a", v) pass its uniqueness require and return an
    // arbitrary limit(1) row when several rows share that value.
    val cat = freshCatalog()
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("a", StringType, nullable = false),
      StructField("b", StringType, nullable = false)))
    val t = new GraftTable(spark, cat, "composite", schema,
      uniqueKeys = Seq(Seq("id"), Seq("a", "b")))
    t.createMany(Seq(("r1", "x", "1"), ("r2", "x", "2")).toDF("id", "a", "b"))
    val m = t.model("id")
    // the single-column key still works
    assert(m.findUnique("id", "r1").count() == 1)
    // a composite-member column must be rejected, not silently limit(1)'d
    val e = intercept[IllegalArgumentException](m.findUnique("a", "x"))
    assert(e.getMessage.contains("not unique"))
    // the composite key itself still enforces uniqueness on write
    intercept[UniqueViolationException] {
      t.createMany(Seq(("r3", "x", "1")).toDF("id", "a", "b"))
    }
  }

  test("literal upsert batches dedup duplicate binary keys as Spark groups them") {
    val cat = freshCatalog()
    val bin = new GraftTable(spark, cat, "blob_kv", StructType(Seq(
      StructField("k", BinaryType, nullable = false),
      StructField("v", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("k")))
    // two images of ONE binary key: byte arrays compare by reference on
    // the JVM, so a driver-side dedup would keep both
    assert(bin.upsert(Seq("k"), Seq((Array[Byte](1, 2), "a"), (Array[Byte](1, 2), "b"))
      .toDF("k", "v")) == 1)
    assert(bin.snapshot().count() == 1)
  }

  test("literal upsert batches dedup -0.0/0.0 and NaN keys as Spark groups them") {
    val cat = freshCatalog()
    val dbl = new GraftTable(spark, cat, "double_kv", StructType(Seq(
      StructField("k", DoubleType, nullable = false),
      StructField("v", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("k")))
    // -0.0/0.0 and NaN/NaN are one key each under Spark's normalization
    assert(dbl.upsert(Seq("k"), Seq((0.0, "a"), (-0.0, "b"), (Double.NaN, "c"),
      (Double.NaN, "d")).toDF("k", "v")) == 2)
    assert(dbl.snapshot().count() == 2)
  }
}
