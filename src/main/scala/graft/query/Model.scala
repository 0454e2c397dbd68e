package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-key ordering with Prisma's `nulls: first|last` option
  * (`internal/prismaNamespace.ts:974-1003`). */
final case class OrderBy(field: String, desc: Boolean = false,
                         nullsFirst: Option[Boolean] = None) {
  def column: Column = (desc, nullsFirst) match {
    case (false, None)        => col(field).asc
    case (false, Some(true))  => col(field).asc_nulls_first
    case (false, Some(false)) => col(field).asc_nulls_last
    case (true, None)         => col(field).desc
    case (true, Some(true))   => col(field).desc_nulls_first
    case (true, Some(false))  => col(field).desc_nulls_last
  }
}

/** Relation metadata. `OneToOne`: related table carries a unique FK to this
  * model's key (Company ↔ CrmSyncEvent, `schema.prisma:80-82`). `OneToMany`:
  * plain FK. `ManyToMany`: implicit join table with (A=this key, B=other key)
  * like `_CompanyToFirmService` (`migrations/...130331_init/migration.sql:70-75`). */
sealed trait Relation { def name: String; def related: () => DataFrame }
final case class OneToOne(name: String, related: () => DataFrame,
                          localKey: String, foreignKey: String) extends Relation
final case class OneToMany(name: String, related: () => DataFrame,
                           localKey: String, foreignKey: String) extends Relation
final case class ManyToMany(name: String, related: () => DataFrame,
                            joinTable: () => DataFrame,
                            localKey: String, jtLocal: String,
                            jtForeign: String, foreignKey: String) extends Relation

/** Per-relation include arguments — Prisma's filtered include + nested
  * select (`models/Company.ts:708-770`): `include: {rel: {where, orderBy,
  * take, select}}`. Plain `IncludeArgs("rel")` hydrates the whole relation. */
final case class IncludeArgs(
    relation: String,
    where: Option[Where] = None,
    orderBy: Seq[OrderBy] = Nil,
    take: Option[Int] = None,
    select: Seq[String] = Nil)

/** The full argument surface of Prisma `findMany`
  * (`models/Company.ts:1379-1421`): where / orderBy / cursor / take / skip /
  * distinct-on-fields / select, plus `include` for relation hydration
  * (`include` takes bare relation names; `includeArgs` the filtered form). */
final case class QueryArgs(
    where: Option[Where] = None,
    orderBy: Seq[OrderBy] = Nil,
    cursor: Option[(String, Any)] = None, // unique field -> value, keyset start (inclusive)
    take: Option[Int] = None,
    skip: Option[Int] = None,
    distinct: Seq[String] = Nil,
    select: Seq[String] = Nil,
    omit: Seq[String] = Nil, // Prisma omit: drop these columns from output
    include: Seq[String] = Nil,
    includeArgs: Seq[IncludeArgs] = Nil)

/** One aggregate request: Prisma `aggregate` exposes `_count`/`_min`/`_max`
  * (no numeric columns in the reference schema → no `_sum`/`_avg` generated,
  * `models/Company.ts:108-155`; we support all five for generality). */
final case class AggSpec(countAll: Boolean = false,
                         count: Seq[String] = Nil,
                         min: Seq[String] = Nil, max: Seq[String] = Nil,
                         sum: Seq[String] = Nil, avg: Seq[String] = Nil) {
  def columns: Seq[Column] = {
    (if (countAll) Seq(org.apache.spark.sql.functions.count(lit(1)).as("_count_all")) else Nil) ++
      count.map(f => org.apache.spark.sql.functions.count(col(f)).as(s"_count_$f")) ++
      min.map(f => org.apache.spark.sql.functions.min(col(f)).as(s"_min_$f")) ++
      max.map(f => org.apache.spark.sql.functions.max(col(f)).as(s"_max_$f")) ++
      sum.map(f => org.apache.spark.sql.functions.sum(col(f)).as(s"_sum_$f")) ++
      avg.map(f => org.apache.spark.sql.functions.avg(col(f)).as(s"_avg_$f"))
  }
}

/** Prisma model surface over an immutable DataFrame snapshot — the read side
  * of the 19-operation surface in `/root/reference/src/db/client/effect.ts`
  * (per-model sections :430-1691). The write side lives in [[graft.store]].
  *
  * Scale notes (100 TB design):
  *   - point lookups compile to a pushed-down key predicate, not a collect;
  *   - cursor pagination is keyset-based (one broadcastable single-row
  *     lookup + a sargable filter), never a global `row_number` scan;
  *   - relation predicates compile to semi/anti joins, or to aggregated
  *     boolean flags (one shuffle per distinct relation predicate) when they
  *     appear under OR/NOT where a plain semi-join can't compose;
  *   - `distinct` on a field subset is a window `row_number() = 1` per key,
  *     which shuffles by the distinct key — the same plan a 1000-executor
  *     cluster wants.
  */
final class Model(
    val df: () => DataFrame,
    val primaryKey: String,
    val uniqueKeys: Seq[String] = Nil,
    val relations: Seq[Relation] = Nil,
    /** Optional stats-pruned source (a store table's `snapshotWhere`):
      * when set, reads route the where-clause's relation-free top-level
      * AND-conjuncts into it, so slice/file data skipping happens BEFORE
      * the scan — the Prisma surface gets the store's Iceberg-style
      * pruning for free. Purely a sourcing optimization: the full where
      * tree is still applied by [[applyWhere]] afterwards. */
    val pruneSource: Option[Column => DataFrame] = None,
    /** Optional secondary-index sources by column — the
      * [[graft.store.ValueIndex.fetch]] shape: values → hydrated rows.
      * This is how Prisma's `@@index` reaches the query surface WITHOUT
      * the caller naming an index: when a read's where tree carries a
      * top-level AND-conjunct that is a PLAIN equality or IN on an
      * indexed column (case-sensitive, no negation, no extra operators
      * on the same leaf), the base frame comes from the index's
      * bucket-pruned postings instead of a full scan. Strictly a
      * sourcing optimization under the same contract as [[pruneSource]]:
      * the FULL where tree is re-applied afterwards, so a routing miss
      * is never a correctness bug — any leaf shape this matcher does
      * not recognize simply falls back to the scan. */
    val indexSources: Map[String, Seq[Any] => DataFrame] = Map.empty,
    /** Composite secondary-index sources by column TUPLE — Prisma's
      * `@@index([a, b])` ([[graft.store.ValueIndex.fetchTuples]]): value
      * tuples → hydrated rows. Routing requires a routable equality/IN
      * conjunct on a LEADING PREFIX of the tuple's columns (the index's
      * bucket hash covers the leading column, so `where {a}` on
      * `@@index([a, b])` prunes exactly like a full-tuple probe — the
      * Postgres composite-btree rule; the handed tuples carry the
      * matched prefix's arity). A one-column prefix already served by a
      * dedicated [[indexSources]] entry routes there instead. Same
      * sourcing-only contract as [[indexSources]]: the full where tree
      * re-applies afterwards. Probes are the cross product of the
      * prefix columns' value lists, routed only while it stays small. */
    val compositeIndexSources:
      Map[Seq[String], Seq[Seq[Any]] => DataFrame] = Map.empty,
    /** Index-only COUNT sources by column
      * ([[graft.store.ValueIndex.countIds]]): when an entire where tree
      * is ONE routable equality/IN leaf on such a column, [[count]]
      * answers from the index postings with zero source-table jobs —
      * `df()` is never even invoked. */
    val indexCountSources: Map[String, Seq[Any] => Long] = Map.empty,
    /** Index-only IDS sources by column
      * ([[graft.store.ValueIndex.idsOf]] — the returned frame's single
      * column must be named this model's [[primaryKey]]): an
      * ids-projection findMany (`select = Seq(primaryKey)`) whose
      * entire where tree is one routable equality/IN leaf on such a
      * column answers from the postings with zero source-table jobs.
      * Routing also requires no cursor/distinct/include/omit and an
      * orderBy that is at most the primary key — anything else needs
      * the hydrated row. */
    val indexIdsSources: Map[String, Seq[Any] => DataFrame] = Map.empty,
    /** Index-only GROUP-BY sources by column
      * ([[graft.store.ValueIndex.groupCounts]] — the returned frame is
      * (<column>, n)): a `groupBy(col)` whose only aggregate is
      * `_count(_all)` and whose where tree is empty or one routable
      * equality/IN leaf on the SAME column answers from the postings
      * with zero source-table jobs — `df()` is never invoked. The
      * unrestricted form includes the NULL group (the index carries its
      * count in meta); a probed form can't select NULL by SQL equality,
      * exactly like the hydrated plan. */
    val indexGroupSources:
      Map[String, Option[Seq[Any]] => DataFrame] = Map.empty,
    /** Index-only `IS NULL` count sources by column
      * ([[graft.store.ValueIndex.countNulls]]): a count whose whole
      * where tree is one bare `equals: null` leaf on such a column
      * answers from the index's meta-carried null census — zero jobs of
      * any kind, `df()` never invoked. */
    val indexNullCountSources: Map[String, () => Long] = Map.empty) {

  /** The probe values of a leaf that is EXACTLY equality or IN —
    * anything richer (ranges, negation, insensitive mode, recursive
    * not) disqualifies the leaf from index routing. */
  private def probeValues(f: ScalarFilter): Option[Seq[Any]] = f match {
    case StringF(Some(Some(v)), None, None, None, None, None, None, None,
        None, None, false, None) => Some(Seq(v))
    case StringF(None, Some(vs), None, None, None, None, None, None,
        None, None, false, None) if vs.nonEmpty => Some(vs)
    case CmpF(Some(Some(v)), None, None, None, None, None, None, None) =>
      Some(Seq(v))
    case CmpF(None, Some(vs), None, None, None, None, None, None)
        if vs.nonEmpty => Some(vs)
    case _ => None
  }

  /** A leaf that is EXACTLY `equals: null` (Prisma's IS NULL) — the
    * shape [[indexNullCountSources]] routes. */
  private def isNullLeaf(f: ScalarFilter): Boolean = f match {
    case StringF(Some(None), None, None, None, None, None, None, None,
        None, None, false, None) => true
    case CmpF(Some(None), None, None, None, None, None, None, None) => true
    case _ => false
  }

  private def conjuncts(x: Where): Seq[Where] = x match {
    case And(ps) => ps.flatMap(conjuncts)
    case leaf    => Seq(leaf)
  }

  /** Every routable (column → values) among the top-level AND-conjuncts
    * (first routable leaf per column wins — a second leaf on the same
    * column still applies through the re-applied where tree). */
  private def routableLeaves(w: Where): Map[String, Seq[Any]] =
    conjuncts(w).foldLeft(Map.empty[String, Seq[Any]]) {
      case (acc, Field(n, f)) if !acc.contains(n) =>
        probeValues(f).map(vs => acc + (n -> vs)).getOrElse(acc)
      case (acc, _) => acc
    }

  /** First top-level AND-conjunct routable through a single-column
    * secondary index. */
  private def indexProbe(w: Where): Option[(String, Seq[Any])] = {
    val leaves = routableLeaves(w)
    conjuncts(w).collectFirst(Function.unlift {
      case Field(n, _) if indexSources.contains(n) && leaves.contains(n) =>
        Some((n, leaves(n)))
      case _ => None
    })
  }

  /** A composite index with routable conjuncts on a LEADING PREFIX of
    * its columns → the prefix-tuple probe list. Longest matched prefix
    * wins (a full-tuple match is the maximal case); a one-column prefix
    * defers to a dedicated single-column index on the same column. The
    * cross product is bounded: a probe set past 256 tuples costs more
    * to enumerate than the scan it replaces, so it falls back — and the
    * bound is checked on the PRODUCT of the per-column value counts
    * BEFORE enumerating (two 10k-value IN lists must not build ~100M
    * driver-side tuples just to discover they exceed it). */
  private def compositeProbe(w: Where): Option[(Seq[String], Seq[Seq[Any]])] = {
    if (compositeIndexSources.isEmpty) return None
    val leaves = routableLeaves(w)
    val candidates = compositeIndexSources.keys.toSeq.flatMap { cols =>
      val prefix = cols.takeWhile(leaves.contains)
      if (prefix.isEmpty) None
      else if (prefix.size == 1 && indexSources.contains(prefix.head)) None
      else Some((cols, prefix))
    }
    candidates.sortBy { case (cols, p) => (-p.size, cols.size) }
      .collectFirst(Function.unlift { case (cols, prefix) =>
        val product = prefix.foldLeft(1L) { (acc, c) =>
          if (acc > 256L) acc else acc * leaves(c).size
        }
        if (product == 0L || product > 256L) None
        else {
          val tuples = prefix.foldLeft(Seq(Seq.empty[Any])) { (acc, c) =>
            acc.flatMap(t => leaves(c).map(v => t :+ v))
          }
          Some((cols, tuples))
        }
      })
  }

  /** The base frame for a read with `where`: a composite index when a
    * leading prefix of one has routable conjuncts (longest prefix
    * first), else a single-column index on the first routable conjunct, else
    * the pruned source when one is wired and the where has a prunable
    * scalar prefix, else `df()`. */
  private def source(where: Option[Where]): DataFrame =
    where.flatMap(compositeProbe)
      .map { case (cols, ts) => compositeIndexSources(cols)(ts) }
      .orElse(where.flatMap(indexProbe)
        .map { case (n, vs) => indexSources(n)(vs) })
      .getOrElse(pruneFallback(where))

  private def pruneFallback(where: Option[Where]): DataFrame =
    (pruneSource, where) match {
      case (Some(f), Some(w)) =>
        // top-level AND-conjuncts with no relation predicate inside —
        // the fragment whose Column form is safe to hand a pruner. JSON
        // predicates are excluded too: stats can't prune a JSON path and
        // compiling one here would re-parse the document outside
        // applyWhere's parse-once barrier (the round-3 q_json_array bug).
        def scalar(x: Where): Seq[Where] = x match {
          case And(ps) => ps.flatMap(scalar)
          case leaf if Where.relationPreds(leaf).isEmpty &&
            Where.jsonFields(leaf).isEmpty => Seq(leaf)
          case _ => Nil
        }
        val prunable = scalar(w)
        if (prunable.isEmpty) df()
        else f(Where.compile(And(prunable), col(_)))
      case _ => df()
    }

  private def relByName(n: String): Relation =
    relations.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown relation $n"))

  /** Resolve relation predicates into boolean flag columns joined onto the
    * base, so they compose under AND/OR/NOT, then compile the scalar tree. */
  private def applyWhere(base: DataFrame, where: Option[Where]): DataFrame = {
    where match {
      case None => base
      case Some(w) =>
        val rels = Where.relationPreds(w).distinct
        var cur = base
        val flags: Map[Where, String] = rels.zipWithIndex.map { case (r, i) =>
          val flagCol = s"__rel_flag_$i"
          cur = attachRelFlag(cur, r, flagCol)
          r -> flagCol
        }.toMap
        val scalarW = if (rels.isEmpty) w else Where.substituteRels(w, flags)
        // JSON plan pass: conjuncts WITHOUT JSON predicates filter first (so
        // they still push into the scan — a Project holding any
        // non-deterministic alias blocks pushdown of everything above it);
        // then one parsed-variant column per JSON field, pinned behind an
        // optimizer barrier, serves every JSON predicate — one
        // `try_parse_json` per row per field instead of one per predicate.
        val parts = Where.conjuncts(scalarW)
        val (jsonParts, plainParts) = parts.partition(p => Where.jsonFields(p).nonEmpty)
        var filtered =
          if (plainParts.isEmpty) cur
          else cur.filter(Where.compile(And(plainParts), cur.apply))
        if (jsonParts.nonEmpty) {
          val fields = jsonParts.flatMap(Where.jsonFields).distinct
          val jv = fields.zipWithIndex.map { case (f, i) => f -> s"__jv_$i" }
          filtered = jv.foldLeft(filtered) { case (d, (f, cn)) =>
            d.withColumn(cn, graft.functions.Barrier.evalOnce(try_parse_json(d(f))))
          }
          val subbed = Where.substituteJson(
            And(jsonParts), jv.map { case (f, cn) => f -> filtered(cn) }.toMap, filtered.apply)
          filtered = filtered.filter(Where.compile(subbed, filtered.apply))
            .drop(jv.map(_._2): _*)
        }
        if (rels.isEmpty) filtered else filtered.drop(flags.values.toSeq: _*)
    }
  }

  /** Join a boolean per-row flag for one relation predicate.
    * some → EXISTS(match), none → NOT EXISTS(match), every → NOT EXISTS
    * (violation); 1-1 is-null → NOT EXISTS(any). Each flag costs one
    * aggregate of the related table by FK + one (AQE-broadcastable) join. */
  private def attachRelFlag(base: DataFrame, pred: Where, flagCol: String): DataFrame = {
    def flagsOf(relName: String, where: Option[Where], negateInner: Boolean): (DataFrame, String) = {
      val rel = relByName(relName)
      val related = rel.related()
      val inner = where.map { w =>
        val c = Where.compile(w, related.apply)
        if (negateInner) !coalesce(c, lit(false)) else c
      }.getOrElse(lit(true))
      rel match {
        case OneToOne(_, _, lk, fk) =>
          val agg = related.filter(inner).groupBy(col(fk).as(lk)).agg(lit(true).as("__f"))
          (agg, lk)
        case OneToMany(_, _, lk, fk) =>
          val agg = related.filter(inner).groupBy(col(fk).as(lk)).agg(lit(true).as("__f"))
          (agg, lk)
        case ManyToMany(_, _, jt, lk, jtL, jtF, fk) =>
          val rf = related.filter(inner)
          val matching = jt().join(rf, col(jtF) === rf(fk), "inner")
          val agg = matching.groupBy(col(jtL).as(lk)).agg(lit(true).as("__f"))
          (agg, lk)
      }
    }
    val (flagDf, key, invert) = pred match {
      case RelSome(r, w)        => val (f, k) = flagsOf(r, Some(w), negateInner = false); (f, k, false)
      case RelNone(r, w)        => val (f, k) = flagsOf(r, Some(w), negateInner = false); (f, k, true)
      case RelEvery(r, w)       => val (f, k) = flagsOf(r, Some(w), negateInner = true); (f, k, true)
      case RelIsNull(r, isNull) => val (f, k) = flagsOf(r, None, negateInner = false); (f, k, isNull)
      case other => throw new IllegalStateException(s"not a relation pred: $other")
    }
    val marked = flagDf.withColumnRenamed("__f", flagCol)
    val joined = base.join(marked, Seq(key), "left")
    if (invert) joined.withColumn(flagCol, !coalesce(col(flagCol), lit(false)))
    else joined.withColumn(flagCol, coalesce(col(flagCol), lit(false)))
  }

  /** Lexicographic struct comparator over prefixed order-key fields —
    * powers in-array ordering with per-key asc/desc and null placement
    * (Spark convention: asc → nulls first, desc → nulls last, unless the
    * OrderBy pins it). Codegen'd `array_sort` lambda, no UDF. */
  private def structCmp(ord: Seq[OrderBy])(l: Column, r: Column): Column =
    ord.zipWithIndex.foldRight(lit(0): Column) { case ((k, i), tail) =>
      val lv = l.getField(s"__o$i")
      val rv = r.getField(s"__o$i")
      val (ltRes, gtRes) = if (k.desc) (1, -1) else (-1, 1)
      val nullsFirst = k.nullsFirst.getOrElse(!k.desc)
      val nullRes = if (nullsFirst) -1 else 1
      when(lv.isNull && rv.isNull, tail)
        .when(lv.isNull, lit(nullRes))
        .when(rv.isNull, lit(-nullRes))
        .when(lv < rv, lit(ltRes))
        .when(lv > rv, lit(gtRes))
        .otherwise(tail)
    }

  /** Hydrate the many side of a relation as an ordered array of (optionally
    * nested-selected) structs + `_count_<name>`, honoring the filtered-
    * include arguments: per-relation where (pre-aggregation filter),
    * orderBy (array order), take (top-N per parent via a PARTITIONED
    * window — one shuffle on the FK, never a global sort), select (struct
    * projection). `_count` counts the WHERE-matching rows (pre-take), the
    * "how many in total" Prisma `_count` answers while `take` bounds
    * hydration. */
  /** `keyed` must carry the parent key under the reserved `__gr_lk` column
    * (NEVER a rename of a related column — a related table with a column
    * named like the parent's local key would be silently overwritten by
    * the parent key otherwise). */
  private def hydrateMany(cur: DataFrame, name: String, keyed: DataFrame,
                          lk: String, ia: IncludeArgs,
                          relCols: Seq[String]): DataFrame = {
    val payload = if (ia.select.nonEmpty) ia.select else relCols
    val defaultOrd = ia.orderBy.isEmpty
    val ord = if (defaultOrd) relCols.map(OrderBy(_)) else ia.orderBy
    val taken = ia.take match {
      case Some(n) =>
        val w = Window.partitionBy(col("__gr_lk")).orderBy(ord.map(_.column): _*)
        val wc = Window.partitionBy(col("__gr_lk"))
        keyed.withColumn("__total",
          org.apache.spark.sql.functions.count(lit(1)).over(wc))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= n)
      case None => keyed.withColumn("__total", lit(null).cast("long"))
    }
    // no explicit orderBy → native lexicographic sort_array over the
    // payload struct (codegen'd); explicit orderBy → array_sort with a
    // per-key comparator lambda (lambda dispatch per element — only pay
    // for it when the caller asked for a custom order)
    val elem =
      if (defaultOrd) struct(payload.map(col): _*)
      else {
        val ordCols = ord.zipWithIndex.map { case (k, i) => col(k.field).as(s"__o$i") }
        struct((ordCols :+ struct(payload.map(col): _*).as("__p")): _*)
      }
    val grouped = taken.groupBy(col("__gr_lk")).agg(
      collect_list(elem).as("__arr"),
      coalesce(first(col("__total")),
        org.apache.spark.sql.functions.count(lit(1))).as("__cnt"))
    val sorted =
      if (defaultOrd) sort_array(coalesce(col("__arr"), array()))
      else transform(
        array_sort(coalesce(col("__arr"), array()), structCmp(ord)),
        x => x.getField("__p"))
    cur.join(grouped, cur(lk) === grouped("__gr_lk"), "left")
      .withColumn(name, sorted)
      .withColumn(s"_count_$name", coalesce(col("__cnt"), lit(0L)).cast("int"))
      .drop("__gr_lk", "__arr", "__cnt")
  }

  /** Hydrate a relation as a nested column, Prisma `include`
    * (`runner/syncCrm.ts:64-68`): 1-1 → struct (null when absent);
    * 1-N / M-N → ordered array of structs + implicit `_count` column.
    * Accepts the full filtered-include surface via [[IncludeArgs]]. */
  private def applyInclude(base: DataFrame, include: Seq[IncludeArgs]): DataFrame =
    include.foldLeft(base) { (cur, ia) =>
      relByName(ia.relation) match {
        case OneToOne(name, related, lk, fk) =>
          val r0 = related()
          val r = ia.where.map(w => r0.filter(Where.compile(w, r0.apply))).getOrElse(r0)
          val payload = if (ia.select.nonEmpty) ia.select else r0.columns.toSeq
          val nested = r.select(col(fk).as(lk), struct(payload.map(col): _*).as(name))
          cur.join(nested, Seq(lk), "left")
        case OneToMany(name, related, lk, fk) =>
          val r0 = related()
          val r = ia.where.map(w => r0.filter(Where.compile(w, r0.apply))).getOrElse(r0)
          // parent key under the reserved name — never shadow a related col
          val keyed = r.withColumn("__gr_lk", col(fk))
          hydrateMany(cur, name, keyed, lk, ia, r0.columns.toSeq)
        case ManyToMany(name, related, jt, lk, jtL, jtF, fk) =>
          val r0 = related()
          val r = ia.where.map(w => r0.filter(Where.compile(w, r0.apply))).getOrElse(r0)
          val keyed = jt().join(r, col(jtF) === r(fk), "inner")
            .withColumn("__gr_lk", col(jtL))
          hydrateMany(cur, name, keyed, lk, ia, r0.columns.toSeq)
      }
    }

  /** Keyset pagination: look up the cursor row's orderBy values (single-row,
    * pushed-down point query), then filter rows at-or-after it in the sort
    * order — O(scan) with a sargable leading-key predicate, no global
    * numbering. Matches Prisma cursor semantics (cursor row included;
    * combine with skip=1 to exclude it). */
  private def applyCursor(base: DataFrame, cursor: Option[(String, Any)],
                          orderBy: Seq[OrderBy]): DataFrame = cursor match {
    case None => base
    case Some((field, value)) =>
      val keys = if (orderBy.nonEmpty) orderBy else Seq(OrderBy(primaryKey))
      val cursorRow = df().filter(col(field) === lit(value))
        .select(keys.map(k => col(k.field)): _*).head()
      // lexicographic "row >= cursor" under the sort order
      val cmp = keys.zipWithIndex.foldRight(lit(true): Column) { case ((k, i), tail) =>
        val v = lit(cursorRow.get(i))
        val strictly = if (k.desc) col(k.field) < v else col(k.field) > v
        strictly || (col(k.field) === v && tail)
      }
      base.filter(cmp)
  }

  // ---- the Prisma read surface (effect.ts per-model ops) ----

  /** findMany (`effect.ts:463-469`): the full pipeline in Prisma's
    * evaluation order: where → distinct-on (w.r.t. orderBy) → cursor →
    * orderBy → skip/take → select/include. */
  def findMany(args: QueryArgs = QueryArgs()): DataFrame = {
    // INDEX-ONLY ids projection: select = [primaryKey], the whole where
    // tree ONE routable leaf on an ids-indexed column, nothing that
    // needs the hydrated row (no cursor/distinct/include/omit, orderBy
    // at most the key) → answer from the postings; df() never invoked.
    // Negative take is excluded: its reverse-order scan is key-only too,
    // but keeping the fast path to the plain page shape keeps it
    // obviously equivalent to the hydrated plan.
    if (indexIdsSources.nonEmpty && args.select == Seq(primaryKey) &&
        args.cursor.isEmpty && args.distinct.isEmpty &&
        args.include.isEmpty && args.includeArgs.isEmpty &&
        args.omit.isEmpty && args.take.forall(_ >= 0) &&
        args.orderBy.forall(_.field == primaryKey)) {
      val idsOnly = args.where.flatMap(w => conjuncts(w) match {
        case Seq(Field(n, f)) if indexIdsSources.contains(n) =>
          probeValues(f).map(vs => indexIdsSources(n)(vs))
        case _ => None
      })
      idsOnly.foreach { ids =>
        var cur = ids
        if (args.orderBy.nonEmpty)
          cur = cur.orderBy(args.orderBy.map(_.column): _*)
        args.skip.foreach(m => cur = cur.offset(m))
        args.take.foreach(m => cur = cur.limit(m))
        return cur
      }
    }
    var cur = applyWhere(source(args.where), args.where)
    if (args.distinct.nonEmpty) {
      val orderCols =
        (if (args.orderBy.nonEmpty) args.orderBy.map(_.column)
         else Seq(col(primaryKey).asc))
      val w = Window.partitionBy(args.distinct.map(col): _*).orderBy(orderCols: _*)
      cur = cur.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    cur = applyCursor(cur, args.cursor, args.orderBy)
    // the order the page is returned in (none when the caller gave none)
    val order: Seq[OrderBy] = args.take match {
      case Some(n) if n < 0 =>
        // negative take (models/Company.ts:130-136): the LAST |n| rows
        // w.r.t. the order, returned in the ORIGINAL order — sort reversed
        // (global sort-limit, which Spark plans as TakeOrderedAndProject),
        // skip/limit there, then restore the declared order on the |n|
        // survivors (a driver-sized re-sort)
        val keys = if (args.orderBy.nonEmpty) args.orderBy else Seq(OrderBy(primaryKey))
        val reversed = keys.map(k =>
          k.copy(desc = !k.desc, nullsFirst = k.nullsFirst.map(!_)))
        cur = cur.orderBy(reversed.map(_.column): _*)
        args.skip.foreach(m => cur = cur.offset(m))
        cur = cur.limit(-n).orderBy(keys.map(_.column): _*)
        keys
      case _ =>
        if (args.orderBy.nonEmpty) cur = cur.orderBy(args.orderBy.map(_.column): _*)
        args.skip.foreach(m => cur = cur.offset(m))
        args.take.foreach(m => cur = cur.limit(m))
        args.orderBy
    }
    val include = args.include.map(IncludeArgs(_)) ++ args.includeArgs
    cur = applyInclude(cur, include)
    // the hydration joins shuffle the page: re-establish its order
    if (include.nonEmpty && order.nonEmpty) cur = cur.orderBy(order.map(_.column): _*)
    if (args.select.nonEmpty) cur = cur.select(args.select.map(col): _*)
    if (args.omit.nonEmpty) cur = cur.drop(args.omit: _*)
    cur
  }

  /** findUnique (`effect.ts:431-437`): point lookup by unique key —
    * compiles to a pushed-down equality predicate + limit 1. */
  def findUnique(key: String, value: Any): DataFrame = {
    require(key == primaryKey || uniqueKeys.contains(key), s"$key is not unique")
    df().filter(col(key) === lit(value)).limit(1)
  }

  /** findUniqueOrThrow (`effect.ts:439-445`): the P2025 path — Prisma
    * raises `An operation failed because it depends on one or more records
    * that were required but not found`; here the store's typed
    * [[graft.store.RecordNotFoundException]] carries the same code. */
  def findUniqueOrThrow(key: String, value: Any): org.apache.spark.sql.Row = {
    val rows = findUnique(key, value).collect()
    if (rows.isEmpty)
      throw new graft.store.RecordNotFoundException(s"no row with $key=$value")
    rows.head
  }

  /** findFirst (`effect.ts:447-453`): filter → order → first. */
  def findFirst(args: QueryArgs = QueryArgs()): DataFrame =
    findMany(args.copy(take = Some(1)))

  /** findFirstOrThrow (`effect.ts:455-461`): P2025 on an empty match, as
    * [[findUniqueOrThrow]]. */
  def findFirstOrThrow(args: QueryArgs = QueryArgs()): org.apache.spark.sql.Row = {
    val rows = findFirst(args).collect()
    if (rows.isEmpty)
      throw new graft.store.RecordNotFoundException("findFirstOrThrow: empty")
    rows.head
  }

  /** count (`effect.ts:544-550`). INDEX-ONLY fast path: when the whole
    * where tree is exactly ONE routable equality/IN leaf on a column
    * with an [[indexCountSources]] entry, the count answers from the
    * index postings — zero source-table jobs, `df()` never invoked
    * (each row's column holds one value, so postings count = row
    * count). Any residual conjunct forces the hydrated path: the
    * postings can't evaluate it. */
  def count(where: Option[Where] = None): Long = {
    val indexOnly = where.flatMap { w =>
      conjuncts(w) match {
        case Seq(Field(n, f)) if indexCountSources.contains(n) &&
            probeValues(f).isDefined =>
          probeValues(f).map(vs => indexCountSources(n)(vs))
        case Seq(Field(n, f)) if indexNullCountSources.contains(n) &&
            isNullLeaf(f) =>
          Some(indexNullCountSources(n)())
        case _ => None
      }
    }
    indexOnly.getOrElse(applyWhere(source(where), where).count())
  }

  /** aggregate (`effect.ts:552-558`): _count/_min/_max (+_sum/_avg). */
  def aggregate(spec: AggSpec, where: Option[Where] = None): DataFrame =
    applyWhere(source(where), where).agg(spec.columns.head, spec.columns.tail: _*)

  /** aggregate with the full pre-args surface (`effect.ts:552-558` declares
    * where/orderBy/cursor/take/skip BEFORE aggregating): the row pipeline is
    * exactly findMany's — cursor'd, ordered, paged — and the aggregates run
    * over the page. */
  def aggregate(spec: AggSpec, args: QueryArgs): DataFrame =
    findMany(args.copy(select = Nil, omit = Nil, include = Nil, includeArgs = Nil))
      .agg(spec.columns.head, spec.columns.tail: _*)

  /** groupBy (`effect.ts:560-637`): keys + aggregates, `having` filter over
    * aggregate columns (raw Column or the typed [[HavingW]] tree of
    * `CompanyScalarWhereWithAggregatesInput`), orderBy (keys or aggregates),
    * take/skip. Typed having may reference aggregates the selection doesn't
    * return — they're computed as hidden columns of the same agg and dropped
    * after the filter. */
  def groupBy(by: Seq[String], spec: AggSpec,
              where: Option[Where] = None,
              having: Option[Column] = None,
              havingTyped: Option[HavingW] = None,
              orderBy: Seq[OrderBy] = Nil,
              take: Option[Int] = None, skip: Option[Int] = None): DataFrame = {
    havingTyped.toSeq.flatMap(HavingW.leaves).foreach { case (f, a) =>
      // a `key` leaf on a non-grouped field would silently compile to
      // first(col) — a nondeterministic per-group value; Prisma rejects
      // having on a non-grouped scalar without an aggregate, so do we
      if (a == "key" && !by.contains(f))
        throw new IllegalArgumentException(
          s"having: field $f is not in the groupBy keys; use an aggregate")
    }
    // INDEX-ONLY groupBy: `groupBy(col)._count` on a group-indexed
    // column with an empty-or-one-routable-leaf where answers from the
    // postings aggregation (plus the meta-carried NULL group when
    // unrestricted); df() never invoked. Having is excluded — it may
    // reference aggregates only the hydrated row can compute.
    if (by.size == 1 && indexGroupSources.contains(by.head) &&
        spec.countAll && spec.count.isEmpty && spec.min.isEmpty &&
        spec.max.isEmpty && spec.sum.isEmpty && spec.avg.isEmpty &&
        having.isEmpty && havingTyped.isEmpty) {
      val probe: Option[Option[Seq[Any]]] = where match {
        case None => Some(None)
        case Some(w) => conjuncts(w) match {
          case Seq(Field(n, f)) if n == by.head =>
            probeValues(f).map(vs => Some(vs))
          case _ => None
        }
      }
      probe.foreach { p =>
        var cur = indexGroupSources(by.head)(p)
          .withColumnRenamed("n", "_count_all")
        if (orderBy.nonEmpty) cur = cur.orderBy(orderBy.map(_.column): _*)
        skip.foreach(n => cur = cur.offset(n))
        take.foreach(n => cur = cur.limit(n))
        return cur
      }
    }
    val hiddenKeys = havingTyped.toSeq.flatMap(HavingW.leaves).distinct
      .filterNot { case (_, a) => a == "key" }
    val hidden = hiddenKeys.zipWithIndex
      .map { case (k, i) => k -> s"__hav_$i" }.toMap
    val aggCols = spec.columns ++ hidden.toSeq.sortBy(_._2).map {
      case ((f, a), n) => HavingW.aggColumn(f, a).as(n)
    }
    var cur = applyWhere(source(where), where)
      .groupBy(by.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    having.foreach(h => cur = cur.filter(h))
    havingTyped.foreach { h =>
      cur = cur.filter(HavingW.compile(h, {
        case (f, "key") if by.contains(f) => col(f)
        case k => col(hidden(k))
      }))
    }
    if (hidden.nonEmpty) cur = cur.drop(hidden.values.toSeq: _*)
    if (orderBy.nonEmpty) cur = cur.orderBy(orderBy.map(_.column): _*)
    skip.foreach(n => cur = cur.offset(n))
    take.foreach(n => cur = cur.limit(n))
    cur
  }

  /** Order parents by a related-row count (CompanyOrderByRelationAggregateInput,
    * `models/Company.ts:438-440`): aggregate the relation once, broadcast-join
    * the counts back, sort. */
  def orderByRelationCount(relName: String, desc: Boolean = true,
                           take: Option[Int] = None): DataFrame = {
    val counts = relByName(relName) match {
      case OneToOne(_, related, lk, fk) =>
        related().groupBy(col(fk).as(lk)).agg(org.apache.spark.sql.functions.count(lit(1)).as("__rel_count"))
      case OneToMany(_, related, lk, fk) =>
        related().groupBy(col(fk).as(lk)).agg(org.apache.spark.sql.functions.count(lit(1)).as("__rel_count"))
      case ManyToMany(_, _, jt, lk, jtL, _, _) =>
        jt().groupBy(col(jtL).as(lk)).agg(org.apache.spark.sql.functions.count(lit(1)).as("__rel_count"))
    }
    val joined = df().join(counts, Seq(relByName(relName) match {
      case OneToOne(_, _, lk, _) => lk
      case OneToMany(_, _, lk, _) => lk
      case ManyToMany(_, _, _, lk, _, _, _) => lk
    }), "left").withColumn("__rel_count", coalesce(col("__rel_count"), lit(0L)))
    val sorted = joined.orderBy(
      (if (desc) col("__rel_count").desc else col("__rel_count").asc),
      col(primaryKey).asc)
    take.map(sorted.limit).getOrElse(sorted).drop("__rel_count")
  }
}
