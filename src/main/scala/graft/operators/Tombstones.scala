package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE write path of the index stores (text, IVF, IVF-PQ): the
  * reference's SDFS `put` and `delete` (daemon/daemon.go:116-133) reach a
  * store as segment appends and a tombstone append, later drained. A
  * family declares its store once ([[Family]]: tombstone id/key columns +
  * a table of [[Component]]s with their [[Merge]] rules) and gives the two
  * per-family steps: a batch's rows per component against the entry's
  * frozen model ([[Store.rows]]) and a delete set's resolution
  * ([[Store.resolve]]). Every verb — [[build]], [[append]], [[delete]]
  * (`drain = false` appends negative rows and tombstones; `drain = true`
  * rewrites each present component's affected keys over the deletion ∪
  * prior tombstones: drained ids dropped, negatives netted, totals
  * collapsed, tombstones cleared), [[compact]], [[sync]] (a delete and an
  * append) and [[vacuum]] — is ONE pass committing ONE [[StoreSegments]]
  * log entry, so a reader or a crash sees the store before or after it; a
  * pass that changes nothing commits nothing. A delete resolves only ids
  * not yet tombstoned when its rows will be written or netted, and a pass
  * given a source version (`txn`) applies only above the version the
  * entry records for it, recording it in the same commit — so a replay
  * changes nothing.
  */
private[graft] object Tombstones {

  import StoreSegments.{Entry, Seg, Tomb}

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
    /** `comp`'s partition column; "" for a plain component (a model file,
      * the tombstones, totals).
      */
    def keyOf(comp: String): String =
      components.find(_.name == comp).fold("")(_.key)
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
    * and the verb commits on top of `base` — the same entry, except for a
    * build, whose `entry` holds only the new layout and model, over
    * whatever the directory held. An inferred read resolves once, on first
    * use.
    */
  trait Store {
    def spark: SparkSession
    def dir: String
    def family: Family
    def entry: Entry
    def base: Option[Entry] = Some(entry)
    def tombSchema: StructType
    def read(name: String, key: String): DataFrame
    def resolve(ids: DataFrame, idCol: String,
                exclude: Option[DataFrame]): Option[Deletion]
    /** The rows `batch` (ids in `idCol`, content in `contentCol`) appends,
      * per component in write order — a build's model files too — each
      * clustered for its write; shared caches are materialized before it
      * returns, so the writes can overlap.
      */
    def rows(batch: DataFrame, idCol: String,
             contentCol: String): Seq[(String, DataFrame)]
    /** Write clustering of negative appends and summed consolidations. */
    def parts: Int = spark.sparkContext.defaultParallelism
    def idKey(id: Column): Column =
      throw new UnsupportedOperationException(
        s"no ${family.label} component is keyed by id")
  }

  /** A batch to append: its frame, id column and content column. */
  final case class Batch(rows: DataFrame, idCol: String, contentCol: String)

  /** Write `batch` as the whole store (`s` opened over a fresh entry). */
  def build(s: Store, batch: Batch): Unit =
    run(s, "build", Some(batch), None, drain = false, None)

  /** Append `batch`, with `txn` only above the source's recorded version;
    * true when it committed.
    */
  def append(s: Store, batch: Batch,
             txn: Option[(String, Long)] = None): Boolean =
    run(s, "append", Some(batch), None, drain = false, txn)

  /** Delete `ids` (column `idCol`) from the store; `drain` also compacts. */
  def delete(s: Store, ids: DataFrame, idCol: String, drain: Boolean): Unit =
    run(s, if (drain) "delete+compact" else "delete", None, Some(ids -> idCol),
      drain, None)

  /** Drain the prior tombstones; a store without any is left untouched. */
  def compact(s: Store): Unit = run(s, "compact", None, None, drain = true, None)

  /** Delete `ids` and append `batch` in ONE pass that records `txn`. */
  def sync(s: Store, ids: Option[(DataFrame, String)], batch: Option[Batch],
           drain: Boolean, txn: (String, Long)): Boolean =
    run(s, "sync", batch, ids, drain, Some(txn))

  /** Drain the tombstones and consolidate every component into ONE
    * segment, netting the summed components as the search does — one
    * commit. A store already holding one clean segment per component and
    * no tombstone is left untouched.
    */
  def vacuum(s: Store): Unit = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    val present = f.components.filter(c => e.has(c.name))
    if (!e.has(Tomb) && present.forall(c =>
        e.segs(c.name).forall(_.excluded.isEmpty) && e.segs(c.name).size == 1))
      return
    Par.described(spark, s"${f.label} vacuum $dir") {
      CacheScope.withCaches {
        StoreSegments.write(spark, dir, Some(e)) { w =>
          val drained = prior(s).map(_.select(f.idCol))
          Some(execute(Pass(e.set(Tomb, Nil), present.map { c =>
            val rows = c.merge match {
              case DropById => drained.fold(s.read(c.name, c.key))(
                s.read(c.name, c.key).join(_, Seq(f.idCol), "left_anti"))
              case _ => net(c, s.read(c.name, c.key), None)
            }
            Write(put(w, c.name, c.key,
                if (c.key.isEmpty) rows.coalesce(1) else rows.repartition(
                  spark.sparkContext.defaultParallelism, col(c.key))),
              (acc, seg) => {
                require(seg.nonEmpty,
                  s"refusing to vacuum $dir/${c.name}: no live rows would " +
                    "remain — a store cannot be emptied by maintenance; " +
                    "drop the store directory instead")
                acc.set(c.name, seg.toSeq)
              })
          })))
        }
      }
    }
  }

  /** One segment write of a pass, and how its segment (if it wrote one)
    * enters the pass's entry.
    */
  private final case class Write(run: () => Option[Seg],
                                 enter: (Entry, Option[Seg]) => Entry)

  /** A pass: the entry its writes enter, and the writes. */
  private final case class Pass(start: Entry, writes: Seq[Write])

  /** A write whose segment is appended to `comp`'s live segments. */
  private def added(comp: String)(run: () => Option[Seg]): Write =
    Write(run, (acc, seg) => acc.set(comp, acc.segs(comp) ++ seg))

  /** `df` as a new segment of `comp`, partitioned by `key` ("" for none). */
  private def put(w: StoreSegments.Writer, comp: String, key: String,
                  df: DataFrame): () => Option[Seg] =
    () => if (key.isEmpty) Some(w.plain(comp, df)) else w.keyed(comp, key, df)

  /** Run `p`'s writes overlapped (independent segments), then fold their
    * segments into its entry in write order.
    */
  private def execute(p: Pass): Entry = {
    val segs = new Array[Option[Seg]](p.writes.size)
    Par.run(p.writes.indices.map(i => () => segs(i) = p.writes(i).run()): _*)
    p.writes.zip(segs).foldLeft(p.start) { case (acc, (wr, seg)) =>
      wr.enter(acc, seg) }
  }

  /** The tombstone rows at the store's entry, if it has any. */
  private def prior(s: Store): Option[DataFrame] =
    if (s.entry.has(Tomb))
      Some(StoreSegments.scan(s.spark, s.dir, s.entry, Tomb, "", s.tombSchema))
    else None

  /** THE pass: resolve the deletion, plan its writes (tombstone append or
    * drain), add the batch's rows, write everything overlapped and commit
    * the entry — with `txn` recorded — unless nothing changed. False when
    * `txn` was already applied or nothing changed.
    */
  private def run(s: Store, verb: String, add: Option[Batch],
                  ids: Option[(DataFrame, String)], drain: Boolean,
                  txn: Option[(String, Long)]): Boolean = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    if (txn.exists { case (src, v) => e.txn.get(src).exists(_ >= v) })
      return false
    var committed = false
    Par.described(spark, s"${f.label} $verb $dir") {
      CacheScope.withCaches {
        StoreSegments.write(spark, dir, s.base) { w =>
          val tomb = prior(s)
          // ids only ever feed anti-joins and distinct key lists
          val priorIds = tomb.map(_.select(f.idCol))
          val exclude = if (drain && !f.netsNegatives) None else priorIds
          val del = ids.flatMap { case (df, c) => s.resolve(df, c, exclude) }
          val removal =
            if (!drain) del.filter(_.materialize()).fold(Pass(e, Nil)) { d =>
              Pass(e, f.components.filter(c => d.negatives.contains(c.name))
                .map { c =>
                  val neg = d.negatives(c.name)
                  // a negative totals row is one global aggregate row
                  added(c.name)(put(w, c.name, c.key, if (c.key.isEmpty)
                    neg.coalesce(1) else neg.repartition(s.parts, col(c.key))))
                } :+ added(Tomb)(put(w, Tomb, "", d.rows)))
            }
            else if (del.isDefined || tomb.isDefined)
              drainAll(w, s, tomb, priorIds, del)
            else Pass(e, Nil)
          val appends = add.toSeq.flatMap(b =>
            s.rows(b.rows, b.idCol, b.contentCol)).map { case (c, df) =>
              added(c)(put(w, c, f.keyOf(c), df)) }
          val next = execute(removal.copy(writes = removal.writes ++ appends))
          val recorded = txn.fold(next) { case (src, v) =>
            next.copy(txn = next.txn.updated(src, v)) }
          committed = recorded != e
          Some(recorded).filter(_ => committed)
        }
      }
    }
    committed
  }

  /** Rewrite every present component's affected keys and drop the
    * tombstones. The rewrites are independent segments, so they overlap;
    * the key lists are collected first, which materializes the shared
    * caches.
    */
  private def drainAll(w: StoreSegments.Writer, s: Store,
                       prior: Option[DataFrame],
                       priorIds: Option[DataFrame],
                       del: Option[Deletion]): Pass = {
    val (spark, dir, f, e) = (s.spark, s.dir, s.family, s.entry)
    val drainedEntry = e.set(Tomb, Nil)
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
    if (keys.values.forall(_.isEmpty)) return Pass(drainedEntry, Nil)
    val negatives = del.fold(Map.empty[String, DataFrame])(_.negatives)
    Pass(drainedEntry, present.flatMap { c =>
      val neg = negatives.get(c.name)
      keys.get(c.name) match {
        case None => Some(Write(put(w, c.name, "",
          net(c, s.read(c.name, c.key), neg).coalesce(1)),
          (acc, seg) => acc.set(c.name, seg.toSeq)))
        case Some(ks) if ks.nonEmpty =>
          def base = s.read(c.name, c.key).filter(col(c.key).isin(ks: _*))
          val survivors =
            if (c.merge == DropById) base.join(ids, Seq(f.idCol), "left_anti")
            else net(c, base, neg)
          Some(Write(put(w, c.name, c.key, survivors.repartition(
              spark.sparkContext.defaultParallelism, col(c.key))),
            (acc, seg) => acc.set(c.name, supersede(spark, dir, e, c.name,
              ks.map(_.asInstanceOf[Number].longValue), seg))))
        case _ => None
      }
    })
  }

  /** `comp`'s segments at `e` with the `affected` keys superseded in each
    * (only keys a segment holds, so an entry grows by what it hides) and
    * the survivors' segment `seg` added; a segment left with no live key
    * leaves the entry. Refuses a result with no segment: an emptied
    * component has no footer left to type a read.
    */
  private def supersede(spark: SparkSession, dir: String, e: Entry,
                        comp: String, affected: Seq[Long],
                        seg: Option[Seg]): Seq[Seg] = {
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

  /** Distinct keys (buckets or cells) — a bounded driver list. */
  private def collectKeys(df: DataFrame): Seq[Any] =
    df.distinct().collect().map(_.get(0)).toSeq
}
