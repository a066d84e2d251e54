package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE tombstone lifecycle of the index stores (text, IVF, IVF-PQ):
  * the reference's SDFS `delete` (daemon/daemon.go:116-133) reaches a
  * store as a tombstone append, later drained. A family declares its store
  * once ([[Family]]: tombstone id/key columns + a table of [[Component]]s
  * with their [[Merge]] rules) and resolves a delete set against it
  * ([[Store.resolve]]) — the only per-family step. [[delete]] with
  * `drain = false` appends the deletion's negative rows and tombstones;
  * with `drain = true` it rewrites each present component's affected keys
  * over the deletion ∪ any prior tombstones instead (drained ids dropped,
  * negative rows netted, totals collapsed) and clears the tombstones.
  * [[compact]] drains the prior tombstones alone; [[vacuum]] compacts and
  * consolidates. Each verb writes new segments and commits ONE
  * [[StoreSegments]] log entry, so a reader or a crash sees the store
  * before or after it, and a verb that changes nothing commits nothing; a
  * delete resolves only ids not yet tombstoned when its rows will be
  * written or netted, so a replay subtracts nothing.
  */
private[graft] object Tombstones {

  /** How the drain rewrites a component's affected keys. */
  sealed trait Merge
  /** Rows of drained ids leave. */
  case object DropById extends Merge
  /** Rows (with the deletion's negative rows) sum `value` per remaining
    * columns; only positive sums stay.
    */
  final case class SumKeepPositive(value: String) extends Merge
  /** Every row (with the deletion's negative rows) sums into ONE row. */
  case object CollapseTotals extends Merge

  /** A component table row. `key` is the partition column ("" for none);
    * its affected keys are the tombstones' keys, or each drained id's own
    * key when `byId` ([[Store.idKey]]). Not every store has an `optional`
    * component.
    */
  final case class Component(name: String, key: String, merge: Merge,
                             byId: Boolean = false,
                             optional: Boolean = false)

  /** Job label prefix, `tombstones/` id and key columns, the frozen model
    * components no delete touches, and the component table.
    */
  final case class Family(label: String, idCol: String, keyCol: String,
                          model: Seq[String], components: Seq[Component]) {
    /** The components every complete store of the family holds. */
    def essentials: Seq[String] =
      model ++ components.filterNot(_.optional).map(_.name)
    /** Negative rows must come from ids not yet tombstoned. */
    def netsNegatives: Boolean = components.exists(_.merge != DropById)
  }

  /** A resolved delete set: its ids, the rows carrying the tombstone key
    * they touch, the `tombstones/` rows a plain delete appends, negative
    * rows per component, and `materialize` — evaluate it once before the
    * appends fan out; false when it deletes nothing.
    */
  final case class Deletion(ids: DataFrame, touched: DataFrame,
                            rows: DataFrame,
                            negatives: Map[String, DataFrame],
                            materialize: () => Boolean)

  /** A family's store at `dir`, opened for ONE verb call at the log
    * entry it resolved (`entry`): every read of the verb is of that entry,
    * and the verb commits on top of it. An inferred read resolves once, on
    * first use.
    */
  trait Store {
    def spark: SparkSession
    def dir: String
    def family: Family
    def entry: StoreSegments.Entry
    def tombSchema: StructType
    def read(name: String, key: String): DataFrame
    def resolve(ids: DataFrame, idCol: String,
                exclude: Option[DataFrame]): Option[Deletion]
    /** Write clustering of negative appends and summed consolidations. */
    def parts: Int = spark.sparkContext.defaultParallelism
    def idKey(id: Column): Column =
      throw new UnsupportedOperationException(
        s"no ${family.label} component is keyed by id")
  }

  /** Delete `ids` (column `idCol`) from the store; `drain` also compacts. */
  def delete(s: Store, ids: DataFrame, idCol: String, drain: Boolean): Unit =
    run(s, Some(ids -> idCol), drain)

  /** Drain the prior tombstones; a store without any is left untouched. */
  def compact(s: Store): Unit = run(s, None, drain = true)

  /** Drain the tombstones and consolidate every component into ONE
    * segment, netting the summed components as the search does — one
    * commit. A store already holding one clean segment per component and
    * no tombstone is left untouched.
    */
  def vacuum(s: Store): Unit = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    val present = f.components.filter(c => e.has(c.name))
    if (!e.has(StoreSegments.Tomb) && present.forall(c =>
        e.segs(c.name).forall(_.excluded.isEmpty) && e.segs(c.name).size == 1))
      return
    Par.described(spark, s"${f.label} vacuum $dir") {
      CacheScope.withCaches {
        StoreSegments.write(spark, dir, Some(e)) { w =>
          val drained = prior(s).map(_.select(f.idCol))
          Par.run(present.map(c => () => {
            val rows = c.merge match {
              case DropById => drained.fold(s.read(c.name, c.key))(
                s.read(c.name, c.key).join(_, Seq(f.idCol), "left_anti"))
              case _ => net(c, s.read(c.name, c.key), None)
            }
            if (c.key.isEmpty) w.plain(c.name, rows.coalesce(1))
            else w.keyed(c.name, c.key, rows.repartition(
              spark.sparkContext.defaultParallelism, col(c.key)))
            require(w.added(c.name).nonEmpty,
              s"refusing to vacuum $dir/${c.name}: no live rows would " +
                "remain — a store cannot be emptied by maintenance; drop " +
                "the store directory instead")
          }): _*)
          Some(present.foldLeft(e.set(StoreSegments.Tomb, Nil))((acc, c) =>
            acc.set(c.name, w.added(c.name).toSeq)))
        }
      }
    }
  }

  /** The tombstone rows at the store's entry, if it has any. */
  private def prior(s: Store): Option[DataFrame] =
    if (s.entry.has(StoreSegments.Tomb))
      Some(StoreSegments.scan(s.spark, s.dir, s.entry, StoreSegments.Tomb,
        "", s.tombSchema))
    else None

  private def run(s: Store, ids: Option[(DataFrame, String)],
                  drain: Boolean): Unit = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    val verb =
      if (ids.isEmpty) "compact" else if (drain) "delete+compact" else "delete"
    Par.described(spark, s"${f.label} $verb $dir") {
      CacheScope.withCaches {
        StoreSegments.write(spark, dir, Some(e)) { w =>
          val tomb = prior(s)
          // ids only ever feed anti-joins and distinct key lists
          val priorIds = tomb.map(_.select(f.idCol))
          val exclude = if (drain && !f.netsNegatives) None else priorIds
          val del = ids.flatMap { case (df, c) => s.resolve(df, c, exclude) }
          if (!drain) del.filter(_.materialize()).map { d =>
            Par.run(f.components.filter(c => d.negatives.contains(c.name))
              .map(c => () => append(w, s, c, d.negatives(c.name))) :+
              (() => w.plain(StoreSegments.Tomb, d.rows)): _*)
            w.appendedTo(e)
          }
          else if (del.isDefined || tomb.isDefined)
            drainAll(w, s, tomb, priorIds, del)
          else None
        }
      }
    }
  }

  /** Rewrite every present component's affected keys and drop the
    * tombstones, as one entry. The rewrites are independent segments, so
    * they overlap; the key lists are collected first, which materializes
    * the shared caches.
    */
  private def drainAll(w: StoreSegments.Writer, s: Store,
                       prior: Option[DataFrame],
                       priorIds: Option[DataFrame],
                       del: Option[Deletion]): Option[StoreSegments.Entry] = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    val drainedEntry = e.set(StoreSegments.Tomb, Nil)
    val present = f.components.filter(c => e.has(c.name))
    val drained = del.map(d => priorIds.fold(d.ids)(d.ids.unionByName(_)))
      .orElse(priorIds).get
    // cached (deduplicated, so compact) only when read more than once:
    // under AQE a cache costs its own materialization job, and a single
    // anti-join needs no distinct
    val ids =
      if (present.count(c => c.byId || c.merge == DropById) > 1)
        CacheScope.persisted(drained.distinct())
      else drained
    // a prior tombstone keyed -1 touched no keyed row (a text doc without
    // postings); a fresh deletion's touched rows are real keys
    lazy val tombKeys = collectKeys(
      (del.map(_.touched.select(f.keyCol)).toSeq ++
        prior.map(_.select(f.keyCol).filter(col(f.keyCol) >= 0)))
        .reduce(_ unionByName _))
    val keys = present.filter(_.key.nonEmpty).map(c => c.name -> (
      if (c.byId) collectKeys(ids.select(s.idKey(col(f.idCol)).as(c.key)))
      else tombKeys)).toMap
    // nothing the drain touches: only the tombstones (if any) leave
    if (keys.values.forall(_.isEmpty))
      return prior.map(_ => drainedEntry)
    val negatives = del.fold(Map.empty[String, DataFrame])(_.negatives)
    Par.run(present.flatMap { c =>
      val neg = negatives.get(c.name)
      keys.get(c.name) match {
        case None => Some(() => w.plain(c.name,
          net(c, s.read(c.name, c.key), neg).coalesce(1)))
        case Some(ks) if ks.nonEmpty =>
          def base = s.read(c.name, c.key).filter(col(c.key).isin(ks: _*))
          val survivors =
            if (c.merge == DropById) base.join(ids, Seq(f.idCol), "left_anti")
            else net(c, base, neg)
          Some(() => w.keyed(c.name, c.key, survivors.repartition(
            spark.sparkContext.defaultParallelism, col(c.key))))
        case _ => None
      }
    }: _*)
    Some(present.foldLeft(drainedEntry) { (acc, c) =>
      keys.get(c.name) match {
        case None => acc.set(c.name, w.added(c.name).toSeq)
        case Some(ks) if ks.nonEmpty => acc.set(c.name, supersede(spark, dir,
          e, c.name, ks.map(_.asInstanceOf[Number].longValue),
          w.added(c.name)))
        case _ => acc
      }
    })
  }

  /** `comp`'s segments at `e` with the `affected` keys superseded in each
    * (only keys a segment holds, so an entry grows by what it hides) and
    * the survivors' segment `seg` added; a segment left with no live key
    * leaves the entry. Refuses a result with no segment: an emptied
    * component has no footer left to type a read.
    */
  private def supersede(spark: SparkSession, dir: String,
                        e: StoreSegments.Entry, comp: String,
                        affected: Seq[Long], seg: Option[StoreSegments.Seg])
      : Seq[StoreSegments.Seg] = {
    val kept = e.segs(comp).flatMap { s =>
      val keys = StoreSegments.keysOf(spark, dir, comp, s).map(_._2)
      val ex = (s.excluded ++ affected.filter(k => keys.contains(Some(k))))
        .distinct
      if (keys.forall(_.exists(ex.contains))) None
      else Some(s.copy(excluded = ex))
    } ++ seg
    require(kept.nonEmpty,
      s"refusing to compact $dir/$comp: no live rows would remain — a " +
        "store cannot be emptied by maintenance; drop the store directory " +
        "instead")
    kept
  }

  /** A summing component's rows with `neg` folded in, netted by its rule. */
  private def net(c: Component, base: DataFrame,
                  neg: Option[DataFrame]): DataFrame = {
    val rows = neg.fold(base)(base.unionByName(_))
    c.merge match {
      case SumKeepPositive(v) =>
        rows.groupBy(base.columns.filterNot(_ == v).map(col).toSeq: _*)
          .agg(sum(v).cast("long").as(v))
          .filter(col(v) > 0)
      case CollapseTotals =>
        val sums = base.columns.map(n => sum(n).cast("long").as(n)).toSeq
        rows.agg(sums.head, sums.tail: _*)
      case DropById =>
        throw new IllegalArgumentException(s"${c.name} has nothing to net")
    }
  }

  /** A non-draining delete's negative rows for one component. */
  private def append(w: StoreSegments.Writer, s: Store, c: Component,
                     neg: DataFrame): Unit =
    if (c.key.isEmpty)
      // a negative totals row is one global aggregate row by construction
      w.plain(c.name, neg.coalesce(1))
    else w.keyed(c.name, c.key, neg.repartition(s.parts, col(c.key)))

  /** Distinct keys (buckets or cells) — a bounded driver list. */
  private def collectKeys(df: DataFrame): Seq[Any] =
    df.distinct().collect().map(_.get(0)).toSeq
}
