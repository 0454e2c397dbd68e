package perfbench

import graft.{SparkEntry, Tables, TpchModels}
import graft.pipeline._
import graft.query._
import graft.store.{Catalog, GraftTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** One executed read: its kind, latency, and a deferred check that answers
  * the same question with plain DataFrame operations. Checks run after the
  * timed loop; `None` means the read was right. `orderCheck` reports a
  * known defect that is counted but is not a failure: `findMany` with an
  * `include` returns the right page, but not in its `orderBy` order. */
final case class ReadDone(kind: String, ms: Double, check: () => Option[String],
                          orderCheck: () => Option[String] = () => None)

/** A benchmark workload, driven closed-loop by one client thread: a
  * warm-up timed as set-up, then `unit` (one batch) followed by read
  * rounds, until the run's time is spent and at least one unit ran. */
trait Workload {
  /** Warm-up on the fresh session; counted in setup_s. */
  def warmUp(spark: SparkSession): Unit
  /** One batch; returns per-layer counters for it. */
  def unit(u: Int): Map[String, Double]
  /** The five Prisma-surface reads, once each. */
  def readRound(u: Int, r: Int): Seq[ReadDone]
  /** Failures found in the program's final state, one message each. */
  def check(): Seq[String]
  /** Bytes on disk under the workload's store root after its first unit,
    * so the figure does not depend on how many units a run fits. */
  def catalogBytes: Long
  /** Table row counts, recorded per seed to compare across runs. */
  def fingerprint: Map[String, Long]
  /** Operations one unit attempts (curation: one per gate call); a unit
    * reports the ones that failed as its `failed_ops` counter. */
  def unitOps: Int = 1
}

object Util {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Rows as comparable strings, order kept. */
  def rows(df: Seq[Row]): Seq[String] = df.map(_.toSeq.map(String.valueOf).mkString("|"))

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def same(kind: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$kind: got $got, want $want")

  /** An ordered include page: the check compares its rows keyed by id,
    * the order check their sequence. */
  def includeRead[K](ms: Double, got: Seq[(K, Seq[Any])],
                     want: () => Seq[(K, Seq[Any])]): ReadDone = {
    lazy val w = want()
    ReadDone("include", ms, () => same("include", got.toMap, w.toMap),
      () => same("include order", got.map(_._1), w.map(_._1)))
  }
}

/** The reference's poll loop over one growing store. Set-up drains
  * `drainUrls` seed URLs (one createMany, then stage rounds until one
  * processes nothing), so the loop runs against a store with history and
  * the JVM has run every stage on real data volumes. Each unit then seeds
  * `perBatch` fresh URLs and runs each stage once. */
final class PipelineTrickle(seed: Long, drainUrls: Long, perBatch: Long, work: Path,
                            tr: Tracer) extends Workload {
  import Util._
  private var spark: SparkSession = _
  private val root = work.resolve("store")
  private var store: PipelineStore = _
  private var firstSize = 0L
  private var seeded = 0L
  private var batches = 0
  private val rng = new Random(seed)
  private val places = new SyntheticPlacesExtractor(perUrl = 3)
  private val web = new SyntheticWebsiteExtractor()
  private val sink = new DeterministicCrmSink()

  /** Seed URLs `…/search/<seed>-<i>` for i in [from, from + n). */
  private def urls(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      concat(lit(s"u$seed-"), col("id").cast("string")).as("id"),
      concat(lit(s"https://places.example/search/$seed-"), col("id").cast("string")).as("url"),
      concat(lit("Region "), (col("id") % 7).cast("string")).as("location"),
      lit(null).cast(BooleanType).as("status"),
      lit(null).cast(StringType).as("notes"),
      lit(null).cast(TimestampType).as("createdAt"),
      lit(null).cast(TimestampType).as("updatedAt"))

  /** Seed `n` fresh URLs, then stage rounds: with `drain`, rounds until
    * one processes nothing, otherwise one round. */
  private def batch(n: Long, drain: Boolean): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tr.span("pipeline.seed")(store.urls.createMany(urls(seeded, n)))
    seeded += n
    c("pipeline.seed.rows") += n
    var more = true
    while (more) {
      val m1 = tr.span("pipeline.locator")(Stages.runLocator(store, places))
      val m2 = tr.span("pipeline.enricher")(Stages.runEnricher(store, web))
      val m3 = tr.span("pipeline.crm_sync")(Stages.runCrmSync(store, sink))
      c("pipeline.locator.rows") += m1.processed
      c("pipeline.enricher.rows") += m2.processed
      c("pipeline.crm_sync.rows") += m3.processed
      c("crm_events") += m3.inserted
      more = drain && m1.processed + m2.processed + m3.processed > 0
    }
    c.toMap
  }

  /** Store-layer counters around one unit (traced runs only). */
  private def storeDelta(body: => Map[String, Double]): Map[String, Double] =
    if (!tr.on) body
    else {
      val cat = store.catalog
      val dir = java.nio.file.Paths.get(cat.root)
      val (c0, m0, b0) = (cat.currentCommitId(), tr.span("store.manifest")(cat.manifest()), du(dir))
      val out = body
      val (c1, m1, b1) = (cat.currentCommitId(), tr.span("store.manifest")(cat.manifest()), du(dir))
      val changed = m1.toSeq.map { case (t, parts) =>
        parts.count { case (k, v) => !m0.get(t).flatMap(_.get(k)).contains(v) }
      }.sum
      out ++ Map("store.commits" -> (c1 - c0).toDouble,
        "store.slice_versions" -> changed.toDouble,
        "store.bytes_written_mb" -> (b1 - b0) / 1048576.0)
    }

  private def model(t: GraftTable, key: String, uniq: Seq[String],
                    rels: Seq[Relation] = Nil): Model =
    new Model(() => tr.span("store.snapshot")(t.snapshot()), key, uniq, rels,
      pruneSource = Some(c => tr.span("store.snapshot")(t.snapshotWhere(c))))

  /** The five Prisma reads, each checked later against plain filters over
    * the snapshot at the same commit. */
  def readRound(u: Int, r: Int): Seq[ReadDone] = {
    val op = s"u$u.r$r"
    val at = store.catalog.currentCommitId()
    val urlsM = model(store.urls, "id", Seq("id", "url"))
    val placesM = model(store.places, "id", Seq("id", "url"))
    val companiesM = model(store.companies, "id", Seq("id", "name"), Seq(
      ManyToMany("services", () => tr.span("store.snapshot")(store.services.snapshot()),
        () => tr.span("store.snapshot")(store.companyServices.snapshot()),
        localKey = "id", jtLocal = "A", jtForeign = "B", foreignKey = "id")))
    val firm = s"Firm ${rng.nextInt(100000)}"
    val loc = s"Location ${rng.nextInt(20)}"
    def snap(t: GraftTable) = t.snapshotAt(at)

    val (pending, tCount) = timed(tr.span("query.count", s"$op.count")(
      urlsM.count(Some(F.isNull("status")))))
    val (unique, tUnique) = timed(tr.span("query.find_unique", s"$op.find_unique")(
      rows(companiesM.findUnique("name", firm).collect().toSeq)))
    val (page, tPage) = timed(tr.span("query.find_many", s"$op.find_many")(
      rows(placesM.findMany(QueryArgs(where = Some(F.eq("location", loc)),
        orderBy = Seq(OrderBy("id")), take = Some(20))).collect().toSeq)))
    val (incl, tIncl) = timed(tr.span("query.include", s"$op.include")(
      companiesM.findMany(QueryArgs(where = Some(F.eq("location", loc)),
        orderBy = Seq(OrderBy("id")), take = Some(20), include = Seq("services")))
        .collect().toSeq.map(r => r.getAs[String]("id") ->
          r.getAs[Seq[Row]]("services").map(_.getAs[String]("name")).sorted)))
    val (groups, tGroup) = timed(tr.span("query.group_by", s"$op.group_by")(
      placesM.groupBy(Seq("location"), AggSpec(countAll = true)).collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap))

    Seq(
      ReadDone("count", tCount, () => same("count",
        pending, snap(store.urls).filter(col("status").isNull).count())),
      ReadDone("find_unique", tUnique, () => same("find_unique", unique,
        rows(snap(store.companies).filter(col("name") === firm).collect().toSeq))),
      ReadDone("find_many", tPage, () => same("find_many", page,
        rows(snap(store.places).filter(col("location") === loc).orderBy("id")
          .limit(20).collect().toSeq))),
      includeRead(tIncl, incl, () => {
        val page = snap(store.companies).filter(col("location") === loc).orderBy("id")
          .limit(20).select("id").collect().map(_.getString(0)).toSeq
        val svc = snap(store.companyServices).join(
            snap(store.services).select(col("id").as("B"), col("name")), "B")
          .filter(col("A").isin(page: _*)).collect()
          .groupBy(_.getAs[String]("A")).map { case (k, rs) =>
            k -> rs.map(_.getAs[String]("name")).toSeq.sorted }
        page.map(id => id -> svc.getOrElse(id, Nil))
      }),
      ReadDone("group_by", tGroup, () => same("group_by", groups,
        snap(store.places).groupBy("location").count().collect()
          .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap)))
  }

  /** Drain invariants: nothing pending, one CRM event per emailed
    * company, every link and event points at a live row. */
  def check(): Seq[String] = {
    val companies = store.companies.snapshot()
    val events = store.crmEvents.snapshot()
    val links = store.companyServices.snapshot()
    val perCompany = companies.filter(col("emailAddress").isNotNull).select("id")
      .join(events.groupBy(col("companyId").as("id")).count(), Seq("id"), "left")
    def orphans(child: DataFrame, c: String, parent: DataFrame) =
      child.join(parent.select(col("id").as(c)), Seq(c), "left_anti").count()
    Seq(
      "pending urls remain" -> store.urls.snapshot().filter(col("status").isNull).count(),
      "pending places remain" -> store.places.snapshot().filter(col("status").isNull).count(),
      "emailed company without exactly one CRM event" ->
        perCompany.filter(col("count").isNull || col("count") =!= 1).count(),
      "CRM events without an emailed company" ->
        (events.count() - perCompany.filter(col("count") === 1).count()),
      "links to missing companies" -> orphans(links, "A", companies),
      "links to missing services" -> orphans(links, "B", store.services.snapshot()),
      "events for missing companies" -> orphans(events, "companyId", companies)
    ).collect { case (what, n) if n != 0 => s"after $batches batches: $what ($n)" }
  }

  def fingerprint: Map[String, Long] = Seq(
    "urls" -> store.urls, "places" -> store.places, "companies" -> store.companies,
    "services" -> store.services, "links" -> store.companyServices,
    "events" -> store.crmEvents, "notifications" -> store.notifications)
    .map { case (k, t) => k -> t.snapshot().count() }.toMap + ("batches" -> batches.toLong)

  def warmUp(s: SparkSession): Unit = {
    spark = s
    store = new PipelineStore(spark, new Catalog(root.toString))
    batch(drainUrls, drain = true)
    (0 until 2).foreach(r => readRound(-1, r))
  }

  def unit(u: Int): Map[String, Double] = {
    val c = storeDelta(batch(perBatch, drain = false))
    batches += 1
    if (u == 0) firstSize = du(root)
    c
  }

  def catalogBytes: Long = firstSize
}

/** One pass over a fixed gate list per unit, each gate's result written
  * as parquet for the DuckDB oracle check; the read mix runs the Prisma
  * surface over the same corpus through [[graft.TpchModels]]. */
final class CurationGates(seed: Long, gates: Seq[String], data: String,
                          out: Path, tmp: Path, tr: Tracer) extends Workload {
  import Util._
  override def unitOps: Int = gates.size
  private var spark: SparkSession = _
  private var size = 0L
  private val rng = new Random(seed)
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Runs every gate once; returns how many threw. */
  private def pass(dir: String, dest: Option[Path], op: String): Int =
    gates.count { g =>
      try {
        tr.span(s"gate.$g", s"$op.$g") {
          val df = SparkEntry.queries(g)(spark, dir)
          dest match {
            case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(d.resolve(g).toString)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        false
      } catch {
        case e: Throwable =>
          failures += s"$op: $g failed: ${String.valueOf(e.getMessage).take(300)}"
          true
      } finally spark.catalog.clearCache()
    }

  /** One untimed pass: the gates' code paths compile and warm. */
  def warmUp(s: SparkSession): Unit = {
    spark = s
    pass(data, None, "warm")
    (0 until 2).foreach(r => readRound(-1, r))
  }

  def unit(u: Int): Map[String, Double] = {
    val failed = pass(data, Some(out), s"u$u")
    if (u == 0) size = du(tmp)
    Map("failed_ops" -> failed.toDouble)
  }

  def readRound(u: Int, r: Int): Seq[ReadDone] = {
    val op = s"u$u.r$r"
    val customer = TpchModels.customer(spark, data)
    val orders = TpchModels.orders(spark, data)
    val ck = rng.nextInt(1000).toLong
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rng.nextInt(5))
    val seg = Seq("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")(rng.nextInt(5))
    def cust = Tables.customer(spark, data)
    def ord = Tables.orders(spark, data)

    val (unique, tUnique) = timed(tr.span("query.find_unique", s"$op.find_unique")(
      rows(customer.findUnique("c_custkey", ck).collect().toSeq)))
    val (page, tPage) = timed(tr.span("query.find_many", s"$op.find_many")(
      rows(orders.findMany(QueryArgs(where = Some(F.eq("o_orderpriority", prio)),
        orderBy = Seq(OrderBy("o_orderkey")), take = Some(20))).collect().toSeq)))
    val (incl, tIncl) = timed(tr.span("query.include", s"$op.include")(
      customer.findMany(QueryArgs(where = Some(F.eq("c_mktsegment", seg)),
        orderBy = Seq(OrderBy("c_custkey")), take = Some(20), include = Seq("orders")))
        .collect().toSeq.map(r => r.getAs[Long]("c_custkey") ->
          r.getAs[Seq[Row]]("orders").map(_.getAs[Long]("o_orderkey")).sorted)))
    val (n, tCount) = timed(tr.span("query.count", s"$op.count")(
      orders.count(Some(F.eq("o_orderstatus", "P")))))
    val (groups, tGroup) = timed(tr.span("query.group_by", s"$op.group_by")(
      customer.groupBy(Seq("c_mktsegment"), AggSpec(countAll = true)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap))

    Seq(
      ReadDone("find_unique", tUnique, () => same("find_unique", unique,
        rows(cust.filter(col("c_custkey") === ck).collect().toSeq))),
      ReadDone("find_many", tPage, () => same("find_many", page,
        rows(ord.filter(col("o_orderpriority") === prio).orderBy("o_orderkey")
          .limit(20).collect().toSeq))),
      includeRead(tIncl, incl, () => {
        val ids = cust.filter(col("c_mktsegment") === seg).orderBy("c_custkey")
          .limit(20).select("c_custkey").collect().map(_.getLong(0)).toSeq
        val os = ord.filter(col("o_custkey").isin(ids: _*)).collect()
          .groupBy(_.getAs[Long]("o_custkey"))
          .map { case (k, rs) => k -> rs.map(_.getAs[Long]("o_orderkey")).toSeq.sorted }
        ids.map(id => id -> os.getOrElse(id, Nil))
      }),
      ReadDone("count", tCount, () => same("count", n,
        ord.filter(col("o_orderstatus") === "P").count())),
      ReadDone("group_by", tGroup, () => same("group_by", groups,
        cust.groupBy("c_mktsegment").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)))
  }

  def check(): Seq[String] = failures.toSeq
  def catalogBytes: Long = size
  def fingerprint: Map[String, Long] = Map.empty
}
