package graft.query

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model API over reference-shaped entities (SURVEY §1.2, FIXTURES.md §A):
  * Company ↔ CrmSyncEvent (1-1), Company ↔ FirmService (M-N). */
class ModelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  lazy val company: DataFrame = Seq(
    ("c1", "Acme Law", "https://acme.example", Some("a@acme.example"), Some("+44 1"), Some("London"),
     Some("Legal")),
    ("c2", "Beta Legal", "https://beta.example", None, Some("+1 555"), Some("NY, United States"), Some("Legal")),
    ("c3", "Gamma Advocates", "https://gamma.example", Some("g@gamma.example"), None, Some("Berlin"), None),
    ("c4", "Delta Chambers", "https://delta.example", Some("d@delta.example"), Some("+33 1"), Some("Paris"), Some("Legal"))
  ).toDF("id", "name", "websiteUrl", "emailAddress", "phoneNumber", "address", "industry")

  lazy val crmSync: DataFrame = Seq(
    ("e1", "c1", Some(true)),
    ("e2", "c3", Option.empty[Boolean])
  ).toDF("id", "companyId", "status")

  lazy val firmService: DataFrame = Seq(
    ("f1", "Family Law"), ("f2", "Criminal Defense"), ("f3", "Tax Law")
  ).toDF("id", "name")

  lazy val c2f: DataFrame = Seq(
    ("c1", "f1"), ("c1", "f2"), ("c3", "f1"), ("c4", "f3")
  ).toDF("A", "B")

  lazy val companies = new Model(
    df = () => company,
    primaryKey = "id",
    uniqueKeys = Seq("name"),
    relations = Seq(
      OneToOne("crmSyncEvent", () => crmSync, localKey = "id", foreignKey = "companyId"),
      ManyToMany("servicesOffered", () => firmService, () => c2f,
        localKey = "id", jtLocal = "A", jtForeign = "B", foreignKey = "id")))

  def idsOf(df: DataFrame): Seq[String] = df.select("id").as[String].collect().toSeq

  test("findUnique point lookup by unique key") {
    assert(idsOf(companies.findUnique("name", "Beta Legal")) == Seq("c2"))
    intercept[IllegalArgumentException](companies.findUnique("address", "x"))
  }

  test("findFirst with order (runner/syncCrm.ts:60-69 shape)") {
    val r = companies.findFirst(QueryArgs(
      where = Some(F.notNull("emailAddress")),
      orderBy = Seq(OrderBy("name"))))
    assert(idsOf(r) == Seq("c1"))
  }

  test("findFirstOrThrow throws P2025 on empty") {
    val e = intercept[graft.store.RecordNotFoundException] {
      companies.findFirstOrThrow(QueryArgs(where = Some(F.eq("id", "nope"))))
    }
    assert(e.getMessage.contains("P2025"))
  }

  test("findUniqueOrThrow throws P2025 on a missing key, returns the row otherwise") {
    assert(companies.findUniqueOrThrow("id", "c1").getAs[String]("id") == "c1")
    intercept[graft.store.RecordNotFoundException] {
      companies.findUniqueOrThrow("id", "nope")
    }
  }

  test("relation is-null anti-join: companies never synced (syncCrm.ts:62)") {
    val r = companies.findMany(QueryArgs(
      where = Some(And(Seq(RelIsNull("crmSyncEvent"), F.notNull("emailAddress")))),
      orderBy = Seq(OrderBy("id"))))
    assert(idsOf(r) == Seq("c4"))
  }

  test("relation some: has a Family Law service") {
    val r = companies.findMany(QueryArgs(
      where = Some(RelSome("servicesOffered", F.str("name", StringF(equals = Some(Some("Family Law")))))),
      orderBy = Seq(OrderBy("id"))))
    assert(idsOf(r) == Seq("c1", "c3"))
  }

  test("relation none: zero services (the skip gate, runner/syncCrm.ts:107)") {
    val r = companies.findMany(QueryArgs(
      where = Some(RelNone("servicesOffered", F.True)),
      orderBy = Seq(OrderBy("id"))))
    assert(idsOf(r) == Seq("c2"))
  }

  test("relation every: all services are Family Law (vacuous true for none)") {
    val r = companies.findMany(QueryArgs(
      where = Some(RelEvery("servicesOffered", F.str("name", StringF(equals = Some(Some("Family Law")))))),
      orderBy = Seq(OrderBy("id"))))
    // c1 has f1+f2 → false; c2 none → vacuously true; c3 only f1 → true; c4 f3 → false
    assert(idsOf(r) == Seq("c2", "c3"))
  }

  test("relation predicates compose under OR") {
    val r = companies.findMany(QueryArgs(
      where = Some(Or(Seq(
        RelNone("servicesOffered", F.True),
        RelSome("servicesOffered", F.str("name", StringF(equals = Some(Some("Tax Law")))))))),
      orderBy = Seq(OrderBy("id"))))
    assert(idsOf(r) == Seq("c2", "c4"))
  }

  test("include hydrates 1-1 struct and M-N array + _count") {
    val r = companies.findMany(QueryArgs(include = Seq("crmSyncEvent", "servicesOffered"),
      orderBy = Seq(OrderBy("id"))))
    val rows = r.collect()
    val c1 = rows.find(_.getAs[String]("id") == "c1").get
    assert(c1.getAs[org.apache.spark.sql.Row]("crmSyncEvent").getAs[String]("id") == "e1")
    val svcs = c1.getSeq[org.apache.spark.sql.Row](c1.fieldIndex("servicesOffered"))
    assert(svcs.map(_.getAs[String]("name")).sorted == Seq("Criminal Defense", "Family Law"))
    // hydrated structs carry the RELATED rows' ids — a related table with a
    // column named like the parent's local key must not be overwritten by
    // the parent key (regression: M-N hydration once stamped "c1" here)
    assert(svcs.map(_.getAs[String]("id")).sorted == Seq("f1", "f2"))
    assert(c1.getAs[Int]("_count_servicesOffered") == 2)
    val c2r = rows.find(_.getAs[String]("id") == "c2").get
    assert(c2r.getAs[org.apache.spark.sql.Row]("crmSyncEvent") == null)
    assert(c2r.getSeq[Any](c2r.fieldIndex("servicesOffered")).isEmpty)
  }

  test("filtered include: per-relation where + orderBy + take + select") {
    // only Family Law / Criminal Defense, newest-name first, top 1, id only
    val r = companies.findMany(QueryArgs(
      includeArgs = Seq(IncludeArgs("servicesOffered",
        where = Some(F.str("name", StringF(contains = Some("Law")))),
        orderBy = Seq(OrderBy("name", desc = true)),
        take = Some(1),
        select = Seq("id", "name"))),
      orderBy = Seq(OrderBy("id"))))
    val rows = r.collect()
    val c1 = rows.find(_.getAs[String]("id") == "c1").get
    val hydrated = c1.getSeq[org.apache.spark.sql.Row](c1.fieldIndex("servicesOffered"))
    // c1 has Family Law + Criminal Defense; only Family Law matches "Law";
    // take 1 keeps it; nested select projects (id, name) only
    assert(hydrated.map(_.getAs[String]("name")) == Seq("Family Law"))
    assert(hydrated.head.schema.fieldNames.toSeq == Seq("id", "name"))
    // _count reports pre-take matching rows
    assert(c1.getAs[Int]("_count_servicesOffered") == 1)
    val c4r = rows.find(_.getAs[String]("id") == "c4").get
    assert(c4r.getSeq[org.apache.spark.sql.Row](c4r.fieldIndex("servicesOffered"))
      .map(_.getAs[String]("name")) == Seq("Tax Law"))
  }

  test("filtered include orders the hydrated array by the per-relation orderBy") {
    val r = companies.findMany(QueryArgs(
      includeArgs = Seq(IncludeArgs("servicesOffered",
        orderBy = Seq(OrderBy("name", desc = true)))),
      orderBy = Seq(OrderBy("id"))))
    val c1 = r.collect().find(_.getAs[String]("id") == "c1").get
    assert(c1.getSeq[org.apache.spark.sql.Row](c1.fieldIndex("servicesOffered"))
      .map(_.getAs[String]("name")) == Seq("Family Law", "Criminal Defense"))
    assert(c1.getAs[Int]("_count_servicesOffered") == 2)
  }

  test("include keeps the orderBy order of a taken page over a multi-partition relation") {
    val parents = (0 until 40).map(i => (f"p$i%02d", s"name-$i")).toDF("id", "name")
    val kids = (0 until 120).map(i => (s"k$i", f"p${i % 40}%02d")).toDF("kid", "pid")
      .repartition(3)
    val m = new Model(df = () => parents, primaryKey = "id",
      relations = Seq(OneToMany("kids", () => kids, localKey = "id", foreignKey = "pid")))
    // a relation too large to broadcast: the hydration join shuffles the
    // page on the key, and the declared order must survive that
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      // whole rows: projecting `id` alone would prune the hydration join
      val page = m.findMany(QueryArgs(orderBy = Seq(OrderBy("id", desc = true)),
        skip = Some(2), take = Some(15), include = Seq("kids"))).collect()
      assert(page.map(_.getAs[String]("id")).toSeq == (37 to 23 by -1).map(i => f"p$i%02d"))
      assert(page.forall(r => r.getSeq[Any](r.fieldIndex("kids")).size == 3))
      // negative take: the last 10 in the original (descending) order
      val last = m.findMany(QueryArgs(orderBy = Seq(OrderBy("name", desc = true)),
        take = Some(-10), include = Seq("kids"))).collect()
      assert(last.map(_.getAs[String]("name")).toSeq ==
        (0 until 40).map(i => s"name-$i").sorted.reverse.takeRight(10))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("negative take returns the last N in the original order") {
    val r = companies.findMany(QueryArgs(
      orderBy = Seq(OrderBy("name")), take = Some(-2)))
    // full name order: c1 Acme, c2 Beta, c4 Delta, c3 Gamma → last 2
    assert(idsOf(r) == Seq("c4", "c3"))
    // with skip: skip 1 from the END, then last 2
    val r2 = companies.findMany(QueryArgs(
      orderBy = Seq(OrderBy("name")), take = Some(-2), skip = Some(1)))
    assert(idsOf(r2) == Seq("c2", "c4"))
  }

  test("distinct on field subset keeps first row per key w.r.t. order") {
    val r = companies.findMany(QueryArgs(
      distinct = Seq("industry"),
      orderBy = Seq(OrderBy("name"))))
    // industries: Legal (first by name = Acme Law/c1), null (Gamma/c3)
    assert(idsOf(r).toSet == Set("c1", "c3"))
  }

  test("cursor keyset pagination follows multi-key order") {
    val ordered = companies.findMany(QueryArgs(orderBy = Seq(OrderBy("name"))))
    assert(idsOf(ordered) == Seq("c1", "c2", "c4", "c3"))
    // cursor at c2 (inclusive), skip 1 to exclude it — Prisma idiom
    val page = companies.findMany(QueryArgs(
      orderBy = Seq(OrderBy("name")),
      cursor = Some(("id", "c2")), skip = Some(1), take = Some(2)))
    assert(idsOf(page) == Seq("c4", "c3"))
  }

  test("cursor with descending multi-key order") {
    val page = companies.findMany(QueryArgs(
      orderBy = Seq(OrderBy("name", desc = true)),
      cursor = Some(("id", "c4")), skip = Some(1)))
    assert(idsOf(page) == Seq("c2", "c1"))
  }

  test("count / aggregate / groupBy with having") {
    assert(companies.count(Some(F.notNull("emailAddress"))) == 3L)
    val agg = companies.aggregate(AggSpec(countAll = true, count = Seq("emailAddress"),
      min = Seq("name"), max = Seq("name"))).collect().head
    assert(agg.getAs[Long]("_count_all") == 4L)
    assert(agg.getAs[Long]("_count_emailAddress") == 3L)
    assert(agg.getAs[String]("_min_name") == "Acme Law")
    assert(agg.getAs[String]("_max_name") == "Gamma Advocates")

    val grouped = companies.groupBy(
      by = Seq("industry"), spec = AggSpec(countAll = true),
      having = Some(col("_count_all") >= 3),
      orderBy = Seq(OrderBy("industry", nullsFirst = Some(false))))
    val rows = grouped.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("industry") == "Legal"
      && rows.head.getAs[Long]("_count_all") == 3L)
  }

  test("orderBy nulls first/last") {
    val r = companies.findMany(QueryArgs(orderBy = Seq(OrderBy("industry", nullsFirst = Some(true)), OrderBy("id"))))
    assert(idsOf(r).head == "c3")
    val r2 = companies.findMany(QueryArgs(orderBy = Seq(OrderBy("industry", nullsFirst = Some(false)), OrderBy("id"))))
    assert(idsOf(r2).last == "c3")
  }

  test("orderByRelationCount (models/Company.ts:438-440)") {
    val r = companies.orderByRelationCount("servicesOffered")
    assert(idsOf(r) == Seq("c1", "c3", "c4", "c2"))
  }

  test("select projects a field subset") {
    val r = companies.findMany(QueryArgs(select = Seq("id", "name")))
    assert(r.columns.toSeq == Seq("id", "name"))
  }

  test("omit drops fields (models/Company.ts:708-770)") {
    val r = companies.findMany(QueryArgs(omit = Seq("phoneNumber", "address")))
    assert(!r.columns.contains("phoneNumber") && !r.columns.contains("address"))
    assert(r.columns.contains("id") && r.columns.contains("name"))
  }
}
