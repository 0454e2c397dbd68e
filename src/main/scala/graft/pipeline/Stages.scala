package graft.pipeline

import graft.store.{ConnectOrCreate, Txn}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-run stage outcome counters — the reference's metric set
  * (`runner/locator.ts:41-44`: processed / failed / skipped). */
final case class StageMetrics(processed: Long, succeeded: Long,
                              failed: Long, skipped: Long, inserted: Long) {
  /** `(processed - failed - skipped) / processed` as a percentage
    * (`runner/locator.ts:192-195`). */
  def successRatePct: Double =
    if (processed == 0) 0.0 else (processed - failed - skipped) * 100.0 / processed
}

/** The three pipeline stages (SURVEY §0, §3), re-expressed as set-oriented
  * incremental Spark jobs instead of row-at-a-time poll loops: each run
  * consumes the whole `status IS NULL` slice in one declarative plan and
  * commits data + status flips in one atomic transaction. The poll loop
  * becomes "run until the pending slice is empty" (streaming variant in
  * [[graft.streaming]]).
  *
  * Scale: every step is a join/filter/union on key columns — no driver-side
  * iteration or collected id lists; status flips are join-based bulk
  * updates ([[graft.store.Txn.updateWhereIn]]) whose small key side AQE
  * broadcasts. Each stage flips success and failure in ONE statement (the
  * failure flip is the update's else-branch), so a flip pays one census
  * and one multi-slice write, and the pending slice is rewritten once per
  * run. The extractor boundary is the only external-I/O leg and is
  * batched per partition.
  */
object Stages {

  private val pendingCond: Column = col("status").isNull

  /** Deterministic engine id — the cuid role (`schema.prisma:17`), derived
    * from the natural key so replays are idempotent. */
  private def keyId(prefix: String, c: Column): Column =
    concat(lit(prefix), lit("_"), md5(c))

  private def nullS: Column = lit(null).cast(StringType)
  private def nullB: Column = lit(null).cast(BooleanType)
  private def nullT: Column = lit(null).cast(TimestampType)

  /** One Notification row per stage run (`schema.prisma:90-99`): message +
    * JSON metadata via `to_json(struct(...))` (the JSON.stringify of the
    * reference's logs, SURVEY §2.E) + validated serviceName enum. */
  private def notification(store: PipelineStore, serviceName: String,
                           message: String, m: StageMetrics): org.apache.spark.sql.DataFrame = {
    require(Entities.serviceNames.contains(serviceName), s"invalid enum: $serviceName")
    store.urls.spark.range(1).select(
      concat(lit("nt_"), lit(java.util.UUID.randomUUID().toString.replace("-", ""))).as("id"),
      lit(message).as("message"),
      to_json(struct(
        lit(m.processed).as("processed"), lit(m.succeeded).as("succeeded"),
        lit(m.failed).as("failed"), lit(m.skipped).as("skipped"),
        lit(m.inserted).as("inserted"))).as("metadata"),
      lit(serviceName).as("serviceName"),
      nullT.as("createdAt"), nullT.as("updatedAt"))
  }

  /** Append the run summary notification (own commit, OCC-retried). */
  private def notify(store: PipelineStore, serviceName: String,
                     message: String, m: StageMetrics): Unit =
    Retry.onConflict() {
      store.notifications.createMany(notification(store, serviceName, message, m))
    }

  /** A syntactically-valid http(s) URL — the `Schema.decodeUnknown(Schema.URL)`
    * gate (`extractGooglePlaces.ts:166-172`); invalid rows are skipped. */
  def isValidUrl(c: Column): Column =
    c.rlike("^https?://[A-Za-z0-9][A-Za-z0-9.-]*(:[0-9]+)?(/\\S*)?$")

  /** First phone-looking token, the `/(\+?\d[\d\s()-]+)/` extraction of
    * `extractGooglePlaces.ts:272-276`. */
  def extractPhone(c: Column): Column =
    trim(regexp_extract(c, "(\\+?\\d[\\d\\s()-]+)", 1))

  // ------------------------------------------------------------------
  // Stage 1 — places locator (runner/locator.ts + extractGooglePlaces.ts)
  // ------------------------------------------------------------------

  /** Poll the pending URL slice, extract place candidates, validate, insert
    * place entries (duplicates swallowed, `extractGooglePlaces.ts:305-317`),
    * flip source statuses — all in one transaction. */
  def runLocator(store: PipelineStore, extractor: PlacesExtractor): StageMetrics = {
    // catalog-level partition pruning: only the status=NULL slice is listed
    val slice = store.urls.snapshotSlice(Map("status" -> null)).filter(pendingCond)
    val processed = slice.count()
    if (processed == 0) return StageMetrics(0, 0, 0, 0, 0)

    val extracted = extractor.extract(slice).cache()
    // URL validity gate + geo exclusion: drop "United States" addresses,
    // KEEP null addresses (extractGooglePlaces.ts:295)
    val valid = extracted
      .filter(isValidUrl(col("url")))
      .filter(!coalesce(col("address").contains("United States"), lit(false)))

    val newPlaces = valid.select(
      keyId("pl", col("url")).as("id"),
      trim(col("name")).as("name"),
      col("url"),
      col("address"),
      extractPhone(col("telephone")).as("telephone"),
      col("location"),
      nullB.as("status"), nullS.as("notes"),
      nullT.as("createdAt"), nullT.as("updatedAt"))

    // a source failed if the extractor yielded zero candidates for it
    val okSources = extracted.select(col("sourceId").as("id")).distinct()

    var inserted = 0L
    var succeeded = 0L
    Retry.onConflict() {
      Txn.run(store.catalog) { tx =>
        inserted = tx.createMany(store.places, newPlaces, skipDuplicates = true)
        // sources with candidates succeed, every other pending one fails
        succeeded = tx.updateWhereIn(store.urls, "id", okSources, pendingCond,
          Map("status" -> lit(true)),
          elseSet = Map("status" -> lit(false), "notes" -> lit("extraction failed")))
      }
    }
    extracted.unpersist()
    val m = StageMetrics(processed, succeeded, processed - succeeded, 0, inserted)
    notify(store, "Places_Locator", "locator run complete", m)
    m
  }

  // ------------------------------------------------------------------
  // Stage 2 — website scraper (runner/websiteScraper.ts + scrapeWebsite.ts)
  // ------------------------------------------------------------------

  /** Enrich pending places into companies. Gates (`scrapeWebsite.ts:211-213`):
    * skip when the phone contains "+1" or no in-vocabulary service was
    * extracted. Services dedup (`scrapeWebsite.ts:227`) + connectOrCreate
    * by unique name (`scrapeWebsite.ts:224-236`). */
  def runEnricher(store: PipelineStore, extractor: WebsiteExtractor,
                  vocab: Seq[String] = ServiceVocabulary.default): StageMetrics = {
    val slice = store.places.snapshotSlice(Map("status" -> null)).filter(pendingCond)
    val processed = slice.count()
    if (processed == 0) return StageMetrics(0, 0, 0, 0, 0)

    val vocabArr = array(vocab.map(lit): _*)
    // vocabulary constraint + dedup (scrapeWebsite.ts:152,188,227)
    val extracted = extractor.extract(slice)
      .withColumn("servicesOffered",
        array_distinct(array_intersect(coalesce(col("servicesOffered"),
          array().cast(ArrayType(StringType))), vocabArr)))
      .cache()

    val accepted = extracted
      .filter(!coalesce(col("phoneNumber").contains("+1"), lit(false)))
      .filter(size(col("servicesOffered")) > 0)
      // one company per unique name (unique constraint, migration.sql:81)
      .dropDuplicates("name")
      .cache()

    // company batch with the nested M-N payload riding along as an array
    // column — the shape Prisma's nested `tags: {connectOrCreate: ...}`
    // input takes (`scrapeWebsite.ts:215-241`), expressed batch-first
    val companyBatch = accepted.select(
      keyId("co", col("name")).as("id"),
      col("name"),
      col("websiteUrl"),
      col("emailAddress"),
      col("phoneNumber"),
      col("address"),
      col("industry"),
      col("location"),
      nullT.as("createdAt"), nullT.as("updatedAt"),
      col("servicesOffered"))

    // connectOrCreate FirmService by unique name + link rows, derived from
    // the actually-inserted company slice by the nested-write API
    val tagsNested = ConnectOrCreate(
      relation = store.services,
      ensure = b => b.select(explode(col("servicesOffered")).as("name")).distinct()
        .select(keyId("fs", col("name")).as("id"), col("name"),
          nullT.as("createdAt"), nullT.as("updatedAt")),
      link = store.companyServices,
      links = b => b.select(col("id").as("A"),
          explode(col("servicesOffered")).as("svc"))
        .select(col("A"), keyId("fs", col("svc")).as("B")))

    val acceptedKeys = accepted.select(col("sourceId").as("id"))
    var inserted = 0L
    var succeeded = 0L
    Retry.onConflict() {
      Txn.run(store.catalog) { tx =>
        inserted = tx.createNested(store.companies, companyBatch, Seq(tagsNested),
          skipDuplicates = true)
        succeeded = tx.updateWhereIn(store.places, "id", acceptedKeys, pendingCond,
          Map("status" -> lit(true)),
          elseSet = Map("status" -> lit(false), "notes" -> lit("skipped: gate or no extraction")))
      }
    }
    extracted.unpersist(); accepted.unpersist()
    val m = StageMetrics(processed, succeeded, 0, processed - succeeded, inserted)
    notify(store, "Website_Content_Scrapper", "enricher run complete", m)
    m
  }

  // ------------------------------------------------------------------
  // Stage 3 — CRM sync (runner/syncCrm.ts + syncCrm.ts activity)
  // ------------------------------------------------------------------

  /** Sync never-synced companies with email to the CRM sink. Zero-service
    * companies take the compensation path: delete the Company (and its
    * links), reset the source PlaceEntry to pending
    * (`runner/syncCrm.ts:107-125`). */
  def runCrmSync(store: PipelineStore, sink: CrmSink): StageMetrics = {
    val companies = store.companies.snapshot()
    val events = store.crmEvents.snapshot()
    val links = store.companyServices.snapshot()
    val services = store.services.snapshot()

    // "never synced, has email" + relation hydration (syncCrm.ts:60-69),
    // as one set operation: anti-join + not-null filter + M-N collect_list
    val candidates = companies
      .join(events.select(col("companyId").as("id")), Seq("id"), "left_anti")
      .filter(col("emailAddress").isNotNull)
      .cache()
    val processed = candidates.count()
    if (processed == 0) return StageMetrics(0, 0, 0, 0, 0)

    val svcNames = links
      .join(services.select(col("id").as("B"), col("name").as("serviceName")), Seq("B"))
      .groupBy(col("A").as("id"))
      .agg(sort_array(collect_list(col("serviceName"))).as("serviceNames"))

    val hydrated = candidates.join(svcNames, Seq("id"), "left")
      .withColumn("serviceNames",
        coalesce(col("serviceNames"), array().cast(ArrayType(StringType))))
      .cache()

    val toSkip = hydrated.filter(size(col("serviceNames")) === 0).cache()
    val toSync = hydrated.filter(size(col("serviceNames")) > 0)
      // tag assembly [industry, location, ...services], deduped
      // (syncCrm.ts activity:141)
      .withColumn("tags", array_distinct(concat(
        filter(array(col("industry"), col("location")), _.isNotNull),
        col("serviceNames"))))

    val outcomes = sink.sync(toSync).cache()
    val newEvents = outcomes.select(
      keyId("ev", col("companyId")).as("id"),
      col("companyId"),
      col("ok").as("status"),
      col("notes"),
      nullT.as("createdAt"), nullT.as("updatedAt"))

    val skipKeys = toSkip.select("id")
    val skipUrls = toSkip.select(col("websiteUrl").as("url"))
    val skipped = toSkip.count()
    Retry.onConflict() {
      Txn.run(store.catalog) { tx =>
        if (skipped > 0) {
          // compensation: drop the companies + their links, requeue sources
          tx.deleteWhereIn(store.companies, "id", skipKeys)
          tx.deleteWhereIn(store.companyServices, "A", skipKeys.withColumnRenamed("id", "A"))
          tx.updateWhereIn(store.places, "url", skipUrls, lit(true),
            Map("status" -> nullB, "notes" -> lit("requeued: no services")))
        }
        tx.createMany(store.crmEvents, newEvents, skipDuplicates = true)
      }
    }
    val tally = outcomes.agg(
      count(when(col("ok"), 1)), count(when(!col("ok"), 1))).head()
    val (succeeded, failed) = (tally.getLong(0), tally.getLong(1))
    candidates.unpersist(); hydrated.unpersist(); toSkip.unpersist(); outcomes.unpersist()
    val m = StageMetrics(processed, succeeded, failed, skipped, succeeded + failed)
    notify(store, "CRM_Sync", "crm sync run complete", m)
    m
  }

  /** Run stage 1→2→3 until every queue drains (the poll-loop composition,
    * `runner/locator.ts:166-178`). */
  def runAll(store: PipelineStore, places: PlacesExtractor,
             web: WebsiteExtractor, sink: CrmSink,
             vocab: Seq[String] = ServiceVocabulary.default,
             maxRounds: Int = 10): Seq[(String, StageMetrics)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, StageMetrics)]
    var rounds = 0
    var progress = true
    while (progress && rounds < maxRounds) {
      val m1 = runLocator(store, places)
      val m2 = runEnricher(store, web, vocab)
      val m3 = runCrmSync(store, sink)
      out += (("locator", m1)); out += (("enricher", m2)); out += (("crmSync", m3))
      progress = m1.processed + m2.processed + m3.processed > 0
      rounds += 1
    }
    out.toSeq
  }
}
