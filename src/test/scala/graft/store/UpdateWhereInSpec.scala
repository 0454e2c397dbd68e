package graft.store

import graft.SparkTestBase
import graft.query.F
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Txn.updateWhereIn` with an else-branch: one statement flips key hits
  * to `set` and the other in-scope rows to `elseSet` — the pipeline's
  * success/failure status flip. */
class UpdateWhereInSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshCatalog(): Catalog =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-wherein").toString)

  private val queueSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("status", BooleanType, nullable = true),
    StructField("notes", StringType, nullable = true),
    StructField("createdAt", TimestampType, nullable = true),
    StructField("updatedAt", TimestampType, nullable = true)))

  private def queue(cat: Catalog): GraftTable =
    new GraftTable(spark, cat, "queue", queueSchema,
      uniqueKeys = Seq(Seq("id")),
      timestampCols = Seq("createdAt", "updatedAt"),
      partitionCols = Seq("status"))

  private def pending(ids: String*): DataFrame =
    ids.toDF("id")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))

  private def byId(t: GraftTable): Map[String, Row] =
    t.snapshot().collect().map(r => r.getAs[String]("id") -> r).toMap

  test("key hits take set, other extraCond rows take the else-branch, the rest stay byte-identical") {
    val cat = freshCatalog()
    val t = queue(cat)
    t.createMany(pending("u1", "u2", "u3", "u4", "u5"))
    // u4 is already processed: outside extraCond even though its key hits
    t.updateMany(F.eq("id", "u4"), Map("status" -> lit(true), "notes" -> lit("earlier")))
    val before = byId(t)
    Thread.sleep(5) // a touched updatedAt must be distinguishable
    val n = Txn.run(cat)(_.updateWhereIn(t, "id", Seq("u1", "u2", "u4").toDF("id"),
      col("status").isNull,
      Map("status" -> lit(true)),
      elseSet = Map("status" -> lit(false), "notes" -> lit("failed"))))
    // the result is the key-hit count inside extraCond, not every rewrite
    assert(n == 2)
    val after = byId(t)
    for (id <- Seq("u1", "u2")) {
      val r = after(id)
      assert(r.getAs[Boolean]("status") && r.isNullAt(r.fieldIndex("notes")), id)
      assert(r.getAs[java.sql.Timestamp]("updatedAt")
        .after(before(id).getAs[java.sql.Timestamp]("updatedAt")), id)
    }
    for (id <- Seq("u3", "u5")) {
      val r = after(id)
      assert(!r.getAs[Boolean]("status") && r.getAs[String]("notes") == "failed", id)
      assert(r.getAs[java.sql.Timestamp]("updatedAt")
        .after(before(id).getAs[java.sql.Timestamp]("updatedAt")), id)
    }
    assert(after("u4") == before("u4"), "a row outside extraCond must not change")
    // one statement, one commit: the pending slice now holds nothing
    assert(t.snapshotSlice(Map("status" -> null)).count() == 0)
  }

  test("an empty else-branch leaves the non-hit in-scope rows untouched") {
    val cat = freshCatalog()
    val t = queue(cat)
    t.createMany(pending("u1", "u2"))
    val before = byId(t)
    val n = Txn.run(cat)(_.updateWhereIn(t, "id", Seq("u1").toDF("id"),
      col("status").isNull, Map("status" -> lit(true))))
    assert(n == 1)
    val after = byId(t)
    assert(after("u1").getAs[Boolean]("status"))
    assert(after("u2") == before("u2"))
  }

  private def parentChild(cat: Catalog): (GraftTable, GraftTable) = {
    val company = new GraftTable(spark, cat, "company", StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("name", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    val event = new GraftTable(spark, cat, "event", StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("companyId", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    company.onDeleteRestrict(event, "companyId", "id")
    company.createMany(Seq(("c1", "Acme"), ("c2", "Blob")).toDF("id", "name"))
    event.createMany(Seq(("e1", "c1"), ("e2", "c2")).toDF("id", "companyId"))
    (company, event)
  }

  test("an else-branch writing an FK column is FK-checked (P2003) over the rows it rewrites") {
    val cat = freshCatalog()
    val (_, event) = parentChild(cat)
    // e1 hits and keeps a valid FK; e2 takes the else-branch's dangling one
    val ex = intercept[ForeignKeyViolationException] {
      Txn.run(cat)(_.updateWhereIn(event, "id", Seq("e1").toDF("id"), lit(true),
        Map("companyId" -> lit("c2")), elseSet = Map("companyId" -> lit("ghost"))))
    }
    assert(ex.code == "P2003")
    assert(event.snapshot().as[(String, String)].collect().toSet ==
      Set(("e1", "c1"), ("e2", "c2")), "nothing published")
    // a valid else-branch FK passes, and each branch wrote its own value
    assert(Txn.run(cat)(_.updateWhereIn(event, "id", Seq("e1").toDF("id"), lit(true),
      Map("companyId" -> lit("c2")), elseSet = Map("companyId" -> lit("c1")))) == 1)
    assert(event.snapshot().as[(String, String)].collect().toSet ==
      Set(("e1", "c2"), ("e2", "c1")))
  }

  test("an else-branch rewriting a referenced key cascades into children (ON UPDATE CASCADE)") {
    val cat = freshCatalog()
    val (company, event) = parentChild(cat)
    // c1 hits (renamed only), c2 takes the else-branch's key rewrite
    val n = Txn.run(cat)(_.updateWhereIn(company, "id", Seq("c1").toDF("id"), lit(true),
      Map("name" -> lit("Acme2")),
      elseSet = Map("id" -> concat(col("id"), lit("-x")))))
    assert(n == 1)
    assert(company.snapshot().as[(String, String)].collect().toSet ==
      Set(("c1", "Acme2"), ("c2-x", "Blob")))
    assert(event.snapshot().as[(String, String)].collect().toSet ==
      Set(("e1", "c1"), ("e2", "c2-x")))
  }
}
