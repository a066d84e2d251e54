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
  * consolidates. Every publish is a [[StoreSegments]] manifest flip, so
  * readers stay safe; a delete resolves only ids not yet tombstoned when
  * its rows will be written or netted, so a replay subtracts nothing.
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

  /** A family's store at `dir`, opened for ONE verb call: an inferred
    * read resolves once, on first use inside the verb's write lock.
    */
  trait Store {
    def spark: SparkSession
    def dir: String
    def family: Family
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

  /** [[compact]], then consolidate every segmented component into one
    * segment, netting the summed components as the search does.
    */
  def vacuum(s: Store): Unit = {
    compact(s)
    val (spark, dir) = (s.spark, s.dir)
    StoreLock.withWriteLock(dir) {
      Par.described(spark, s"${s.family.label} vacuum $dir") {
        Par.run(s.family.components
          .filter(c => StoreSegments.entries(spark, dir, c.name).isDefined)
          .map(c => c.merge match {
            case DropById => () =>
              StoreSegments.vacuum(spark, dir, c.name, c.key)
            case SumKeepPositive(_) => () =>
              StoreSegments.vacuum(spark, dir, c.name, c.key,
                Some(net(c, s.read(c.name, c.key), None)
                  .repartition(s.parts, col(c.key))))
            case CollapseTotals => () =>
              StoreSegments.replaceAll(spark, dir, c.name,
                net(c, s.read(c.name, c.key), None))
          }): _*)
      }
    }
  }

  private def run(s: Store, ids: Option[(DataFrame, String)],
                  drain: Boolean): Unit = {
    val (spark, dir, f) = (s.spark, s.dir, s.family)
    val tombDir = s"$dir/tombstones"
    val verb =
      if (ids.isEmpty) "compact" else if (drain) "delete+compact" else "delete"
    StoreLock.withWriteLock(dir) {
      Par.described(spark, s"${f.label} $verb $dir") {
        CacheScope.withCaches {
          val prior =
            if (StoreFs.exists(spark, tombDir))
              Some(spark.read.schema(s.tombSchema).parquet(tombDir))
            else None
          // ids only ever feed anti-joins and distinct key lists
          val priorIds = prior.map(_.select(f.idCol))
          val exclude = if (drain && !f.netsNegatives) None else priorIds
          val del = ids.flatMap { case (df, c) => s.resolve(df, c, exclude) }
          if (!drain)
            del.filter(_.materialize()).foreach(d => Par.run(
              f.components.filter(c => d.negatives.contains(c.name)).map(c =>
                () => append(s, c, d.negatives(c.name))) :+
                (() => d.rows.write.mode("append").parquet(tombDir)): _*))
          else if (del.isDefined || prior.isDefined) {
            drainAll(s, prior, priorIds, del)
            StoreFs.delete(spark, tombDir)
          }
        }
      }
    }
  }

  /** Rewrite every present component's affected keys. The rewrites are
    * independent (per-component manifests), so they overlap; the key lists
    * are collected first, which materializes the shared caches.
    */
  private def drainAll(s: Store, prior: Option[DataFrame],
                       priorIds: Option[DataFrame],
                       del: Option[Deletion]): Unit = {
    val (spark, dir, f) = (s.spark, s.dir, s.family)
    val present = f.components.filter(c =>
      StoreFs.exists(spark, s"$dir/${c.name}"))
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
    if (keys.values.forall(_.isEmpty)) return // nothing the drain touches
    val negatives = del.fold(Map.empty[String, DataFrame])(_.negatives)
    Par.run(present.flatMap { c =>
      val neg = negatives.get(c.name)
      keys.get(c.name) match {
        case None => Some(() => StoreSegments.replaceAll(spark, dir, c.name,
          net(c, s.read(c.name, c.key), neg)))
        case Some(ks) if ks.nonEmpty =>
          def base = s.read(c.name, c.key).filter(col(c.key).isin(ks: _*))
          Some(() => StoreSegments.compact(spark, dir, c.name, c.key,
            ks.map(_.asInstanceOf[Number].longValue),
            if (c.merge == DropById)
              base.join(ids, Seq(f.idCol), "left_anti")
            else net(c, base, neg)))
        case _ => None
      }
    }: _*)
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
        rows.agg(sums.head, sums.tail: _*).coalesce(1)
      case DropById =>
        throw new IllegalArgumentException(s"${c.name} has nothing to net")
    }
  }

  /** A non-draining delete's negative rows for one component. */
  private def append(s: Store, c: Component, neg: DataFrame): Unit =
    if (c.key.isEmpty)
      // a negative totals row is one global aggregate row by construction
      StoreSegments.appendPlain(s.spark, s.dir, c.name, neg.coalesce(1),
        knownNonEmpty = true)
    else
      StoreSegments.append(s.spark, s.dir, c.name, c.key,
        neg.repartition(s.parts, col(c.key)))

  /** Distinct keys (buckets or cells) — a bounded driver list. */
  private def collectKeys(df: DataFrame): Seq[Any] =
    df.distinct().collect().map(_.get(0)).toSeq
}
