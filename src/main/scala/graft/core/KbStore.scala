package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core.Model._
import graft.core.Embeddings.EmbeddingProvider
import graft.functions.VectorFunctions._

/** A knowledge-base store: one directory of versioned Parquet tables plus
  * an atomically-swapped `_meta.json` — the Spark-native re-expression of
  * the reference's single SQLite file (`/root/reference/src/svs/kb.py:66-113`).
  *
  * Transaction model (reference M10, `kb.py:794-829`): every write goes
  * through one publish path, [[publish]]. It stages each table it
  * writes under the next version directory (`docs/v<N+1>/…`): a rewrite
  * as a new base, a delta as the `del`/`add` segments that extend the
  * table's chain. Then it commits by atomically replacing `_meta.json`
  * (which names the committed version). An exception inside the scope
  * deletes the staged directories and leaves the meta untouched — readers
  * never observe a partial write. This is the same
  * write-temp-then-publish discipline a distributed commit protocol uses,
  * so the design carries to object stores unchanged.
  *
  * Every published segment directory is resolved (listed and its
  * schema fixed) once per store instance by [[segment]], and each
  * table's folded merge-on-read view is kept per (table, base, chain),
  * so a warm read plans without touching the filesystem. A segment this
  * store wrote is read with the schema of the frame written to it,
  * which the commit that published it records, so no read runs a
  * schema inference job for it; another writer's segments are inferred
  * once.
  * Published version dirs never change, only disappear: the memos are
  * exact, `invalidate()` (every publish, adoption and close) prunes
  * them to what the live manifest references, and every directory this
  * store deletes is evicted with it.
  *
  * Reads are served from one memo of read state, [[held]]: each entry
  * is kept with the layout (base, chain) of the table it was loaded
  * from, loaded by the first read that needs it and reused by every
  * later read of that layout — the reference's "first query slow, later
  * queries fast" matrix (`_EmbeddingsMatrix`, `kb.py:856-893`,
  * `README.md:135`), applied to all read state. Two kinds of entry:
  *   - resident tables, each collected whole once and indexed on the
  *     driver: `docs` (keyed by `id` and by `emb_id`; every read path
  *     hydrates its hits from it), `keyval` (what [[getKey]] and its
  *     siblings read), `ivf_centroids` with `ivf_assign` (the inverted
  *     lists [[annRetrieve]] probes), and `text_postings` with
  *     `text_doclens` (what [[bm25Retrieve]] scores);
  *   - the retrieval matrix ([[index]]), the one copy of the vectors a
  *     store holds, in the form `VectorIndex.fromPacked` picks: driver
  *     stripes from one collect, or persisted executor blocks above its
  *     local threshold.
  * [[embeddings]] is a plain merge-on-read view like [[docs]]: the
  * Spark routes scan only the columns they need, and an operation that
  * scans the vectors more than once persists its own input and
  * unpersists it before it returns.
  * So warm `retrieve`, `fetchDoc`, `getKeyOr`, `annRetrieve` and
  * `bm25Retrieve` calls run no Spark job at all. A write to another
  * table keeps an entry. A write to its table publishes a layout that
  * extends the held one (same base, the held chain plus new versions),
  * and the next read folds the new versions' `del` and `add` segments
  * into what is held: O(batch) reads, not a reload. Resident rows drop
  * the tombstoned keys and append the added rows; the driver-local
  * matrix does the same through `VectorIndex.updated`; an
  * executor-block matrix does not fold. Whatever cannot be folded to
  * the live layout (executor blocks after any embeddings write,
  * anything after a minor compaction, `compact()`, a full rewrite or
  * an adopted rewrite) is loaded again. The one loop that folds or
  * loads also releases what it replaces, and only executor blocks are
  * unpersisted (the other entries live on the driver heap); a publish
  * releases the entries it leaves unable to fold, and `close` releases
  * all of them. Writes never build or fold a resident table: their
  * guard reads stay Spark reads. A table is resident only while its
  * view's planned (Parquet) size, known from the resolved files
  * without a job, is at most [[KbStore.ResidentMaxBytes]]; above it,
  * its entry holds nothing and each read runs its Spark route instead.
  * The IVF centroids are held without the cap, since every ANN route
  * and [[refreshAnnIndex]] need them on the driver.
  *
  * Single-writer semantics, like the reference's one-connection
  * discipline (`kb.py:116-137`).
  */
final class KbStore private (
    val spark: SparkSession,
    val path: String) {

  import spark.implicits._

  @volatile private var metaCache: KbMeta = KbStore.readMeta(path)

  /** Test seam (no-op in production): runs between a commit's staging
    * and its manifest publish, so a spec can inject a racing writer
    * deterministically and exercise the publish-conflict retry. */
  private[graft] var prePublishHook: () => Unit = () => ()
  /** Largest planned view (bytes) kept resident; test seam: specs set
    * -1 to force every read's Spark route. */
  private[graft] var residentCap: Long = KbStore.ResidentMaxBytes

  def meta: KbMeta = metaCache

  // ------------------------------------------------------------------
  // table access
  // ------------------------------------------------------------------
  private def tableDir(name: String, version: Long): String =
    s"$path/$name/v$version"

  /** Table `name` as the live manifest publishes it: its merge-on-read
    * [[view]], the base segment with its chain folded on by
    * [[foldPatches]]. */
  private def read(name: String): DataFrame = readWithMeta(metaCache, name)

  /** A table's layout in manifest `m`: (base version, delta chain). */
  private def layoutOf(m: KbMeta, name: String): (Long, Seq[Long]) =
    (m.table_bases.getOrElse(name, m.table_versions(name)),
      m.table_deltas.getOrElse(name, Seq.empty[Long]))

  private def readWithMeta(m: KbMeta, name: String): DataFrame =
    view(name, layoutOf(m, name))

  /** Table `name`'s merge-on-read view in `layout`: the base segment
    * with the chain's versions folded on in order ([[foldPatches]]),
    * planned once per layout. */
  private def view(name: String, layout: (Long, Seq[Long])): DataFrame = {
    val (base, chain) = layout
    val key = (name, base, chain)
    val plan = Option(views.get(key)).getOrElse {
      val (rows, _) = foldPatches(name, baseSegment(name, base),
        chain.map(published(name, _)))
      val p = rows.queryExecution.analyzed
      Option(views.putIfAbsent(key, p)).getOrElse(p)
    }
    KbStore.freshScan(spark, plan)
  }

  /** Version `v` of table `name` as the patch it published: its `del`
    * and `add` segments, None for a side it lacks. */
  private def published(name: String, v: Long): KbStore.TablePatch = {
    val dir = tableDir(name, v)
    KbStore.TablePatch(segment(s"$dir/del"), segment(s"$dir/add"))
  }

  /** The one walk over a segment chain: `patches` applied to `rows` in
    * order, each one's tombstone keys ([[KbStore.DeltaKeys]]) anti-joined
    * out and then its add rows, aligned to `rows`' columns, unioned in.
    * Order matters — a key may be tombstoned and later re-added (keyval
    * upserts, the reference's emb-id reuse after delete), which a single
    * global anti-join would get wrong. Each tombstone set is a
    * point-mutation batch, so the anti-joins are broadcast-hash probes in
    * practice (AQE decides from file stats), and a chain is bounded by
    * [[KbStore.DeltaChainLimit]].
    *
    * Over a base segment this is a table's view; over an empty frame of
    * the base's columns it is the net change of the patches alone (adds
    * that a later patch tombstoned drop out), which the minor compaction,
    * the refresh window and the change feed read without touching the
    * base. Returns the folded rows and the union of the patches'
    * tombstone keys, None when no patch has a `del` side. */
  private def foldPatches(name: String, rows: DataFrame,
      patches: Seq[KbStore.TablePatch]): (DataFrame, Option[DataFrame]) = {
    lazy val keys = KbStore.DeltaKeys(name) // tables that take no delta have none
    patches.foldLeft((rows, Option.empty[DataFrame])) {
      case ((acc, gone), p) =>
        val del = p.del.map(_.select(keys.map(col(_)): _*))
        val kept = del.fold(acc)(acc.join(_, keys, "left_anti"))
        (p.add.fold(kept)(a => kept.union(a.select(kept.columns.map(col(_)): _*))),
          del.fold(gone)(d => Some(gone.fold(d)(_.union(d)))))
    }
  }

  // ------------------------------------------------------------------
  // segment resolution
  // ------------------------------------------------------------------
  /** Published segment dir -> its resolved scan; None when it holds no
    * parquet file. */
  private val segments =
    new java.util.concurrent.ConcurrentHashMap[String, Option[LogicalPlan]]()

  /** (table, base version, delta chain) -> the folded merge-on-read
    * plan [[readWithMeta]] built for that layout. */
  private val views = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Seq[Long]), LogicalPlan]()

  /** The read memo (see the class doc and [[held]]): entry name -> what
    * the entry holds and the layout of its table it holds it for. */
  private val residents =
    new java.util.concurrent.ConcurrentHashMap[String, KbStore.Held[_]]()

  /** Segment dir this store published -> the schema of the frame it
    * wrote there (see [[seedSchemas]]). */
  private val writtenSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The one reader of committed segment directories: `dir` (a table's
    * base dir, or a delta's `del`/`add` side) is listed and its schema
    * fixed once per store instance, then served from the memo as a
    * fresh scan with new attribute ids — two reads of one table still
    * join like two independent scans. The schema is the one this store
    * wrote the dir with, when it did; otherwise it is inferred, which
    * costs a Spark job. None when the directory holds no parquet file
    * (an empty partitioned write leaves only `_SUCCESS`; a pure add has
    * no `del`, a pure delete no `add`).
    *
    * Exact because a published version dir never changes, it is only
    * deleted: [[invalidate]] prunes the memo to the live manifest's
    * segments and [[deleteDir]] evicts whatever it removes. Callers
    * pass only dirs a published manifest names — a staged, unpublished
    * `v<N+1>` is never resolved here, so a rolled-back stage that the
    * retry rewrites cannot be served stale.
    */
  private def segment(dir: String): Option[DataFrame] =
    resolved(dir).map(KbStore.freshScan(spark, _))

  /** The memoized analyzed scan behind [[segment]]. */
  private def resolved(dir: String): Option[LogicalPlan] =
    Option(segments.get(dir)).getOrElse {
      val p =
        if (!KbStore.hasParquetFiles(dir)) None
        else Some(KbStore.listedOnDriver(spark) {
          // Parquet stores every column as nullable, so the written
          // schema made nullable is the one inference would find
          Option(writtenSchemas.get(dir)).fold(spark.read)(t =>
            spark.read.schema(org.apache.spark.sql.graft.Bridge.asNullable(t)))
            .parquet(dir).queryExecution.analyzed
        })
      Option(segments.putIfAbsent(dir, p)).getOrElse(p)
    }

  /** Remember the schema of each segment dir a commit staged, once
    * manifest `m` has published it, so no read of it runs a schema
    * inference job. Only published dirs: a rolled-back stage is never
    * seeded, and dirs `m` does not name (a family the same commit
    * dropped) are skipped. */
  private def seedSchemas(m: KbMeta, staged: Seq[(String, StructType)]): Unit = {
    val live = liveDirs(m)
    staged.foreach { case (dir, schema) =>
      if (live.contains(dir)) writtenSchemas.put(dir, schema)
    }
  }

  /** A table's base segment, which every committed layout has. */
  private def baseSegment(name: String, version: Long): DataFrame = {
    val dir = tableDir(name, version)
    segment(dir).getOrElse(throw new IllegalStateException(
      s"store $path: base segment $dir of table $name holds no parquet file"))
  }

  /** Every segment dir (base, then each delta's sides) of a layout. */
  private def layoutDirs(name: String, base: Long,
      chain: Seq[Long]): Seq[String] =
    tableDir(name, base) +: chain.flatMap { v =>
      val dir = tableDir(name, v)
      Seq(s"$dir/del", s"$dir/add")
    }

  /** Every segment dir the layouts of manifest `m` name. */
  private def liveDirs(m: KbMeta): Set[String] =
    m.table_versions.keySet.flatMap { name =>
      val (base, chain) = layoutOf(m, name)
      layoutDirs(name, base, chain)
    }

  /** Whether state built for `held` can be brought to layout `live` by
    * applying the new versions' segments: the same base, and a chain
    * that extends the held one (published segments never change). */
  private def extendsLayout(held: (Long, Seq[Long]),
      live: (Long, Seq[Long])): Boolean =
    held._1 == live._1 && live._2.startsWith(held._2)

  /** Prune the memos to the live manifest. A read-memo entry stays
    * while it holds the live layout of its table, or one the live
    * layout extends and it can fold (the next read folds the new
    * versions into it); every other entry is released. */
  private def invalidate(): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val m = metaCache
    val live = m.table_versions.keySet.map { name =>
      val (base, chain) = layoutOf(m, name)
      (name, base, chain)
    }
    views.keySet.retainAll(live.asJava)
    release { h =>
      !m.table_versions.contains(h.memo.table) || {
        val now = layoutOf(m, h.memo.table)
        h.layout != now && !(h.folds && extendsLayout(h.layout, now))
      }
    }
    val dirs = liveDirs(m).asJava
    segments.keySet.retainAll(dirs)
    writtenSchemas.keySet.retainAll(dirs)
  }

  /** Delete `p` recursively and evict every memo entry under it. */
  private def deleteDir(p: Path): Unit = {
    KbStore.deleteRecursively(p)
    def under(dir: String) = Paths.get(dir).startsWith(p)
    segments.keySet.removeIf(under(_))
    writtenSchemas.keySet.removeIf(under(_))
    views.keySet.removeIf { case (n, b, c) => layoutDirs(n, b, c).exists(under) }
  }

  /** Memo contents, for specs: (resolved segment dirs, folded views). */
  private[graft] def resolvedForSpec: (Set[String], Int) = {
    import scala.jdk.CollectionConverters._
    (segments.keySet.asScala.toSet, views.size)
  }

  /** The memoized scan schema of segment `dir`, for specs; None when
    * the dir is not resolved or holds no parquet file. */
  private[graft] def segmentSchemaForSpec(dir: String): Option[StructType] =
    Option(segments.get(dir)).flatten.map(_.schema)

  def docs: Dataset[Doc] = read("docs").as[Doc]
  def edges: Dataset[Edge] = read("edges").as[Edge]
  def keyval: Dataset[KV] = read("keyval").as[KV]
  def embeddings: Dataset[Emb] = read("embeddings").as[Emb]

  /** Chain-resolved table access for specs (parity twins need the same
    * merged view the store itself queries).
    */
  private[graft] def readTableForSpec(name: String): DataFrame = read(name)

  /** The planned (Parquet) size of table `name`'s merge-on-read view in
    * `layout`: the file bytes of its base and `add` segments, which is
    * what the optimizer plans for the view (a union plans the sum of
    * its inputs, an anti-join its left side), read off the resolved
    * scans without planning the view. */
  private def plannedBytes(name: String, layout: (Long, Seq[Long])): BigInt =
    (tableDir(name, layout._1) +: layout._2.map(v => s"${tableDir(name, v)}/add"))
      .flatMap(resolved).map(_.stats.sizeInBytes).sum

  /** Keys tombstoned by version `v` of table `name` and the `add`
    * segment it appended (None for either side it lacks). Every table's
    * [[KbStore.DeltaKeys]] is one column, so a key is that column's
    * value. */
  private def versionDelta(name: String, v: Long)
      : (Set[Any], Option[DataFrame]) = {
    val dir = tableDir(name, v)
    val key = KbStore.DeltaKeys(name).head
    val gone = segment(s"$dir/del").fold(Set.empty[Any])(
      _.select(col(key)).collect().iterator.map(_.get(0)).toSet)
    (gone, segment(s"$dir/add"))
  }

  /** What read-memo entry `memo` holds for the live layout of its
    * table, None when its load holds nothing (see the class doc). The
    * one loop over the memo: a held value for the live layout is
    * returned as is. Otherwise, when the live layout extends the held
    * one and the held value folds, the versions appended since are
    * folded into it, and the fold takes it over; else (or when the fold
    * declines) the held value is released and the entry loaded again.
    * Read paths only. */
  private def held[T <: AnyRef](memo: KbStore.Memo[T]): Option[T] =
    synchronized {
      val layout = layoutOf(metaCache, memo.table)
      val prior = Option(residents.get(memo.name))
        .map(_.asInstanceOf[KbStore.Held[T]]) // one name, one memo type
      prior match {
        case Some(h) if h.layout == layout => h.value
        case _ =>
          val folded = prior.filter(h => h.folds && extendsLayout(h.layout, layout))
            .flatMap(h => memo.fold(h.value.get, layout, layout._2.drop(h.layout._2.size)))
          if (folded.isEmpty) prior.foreach(_.release())
          val value = folded.orElse(memo.load(layout))
          residents.put(memo.name, KbStore.Held(memo, layout, value))
          value
      }
    }

  /** Release and drop the read-memo entries `drop` selects. */
  private def release(drop: KbStore.Held[_] => Boolean): Unit =
    residents.values.removeIf { h =>
      drop(h) && { h.release(); true }
    }

  /** The read-memo entry of table `name` held as its collected rows
    * while `within` its layout (see the class doc): `rows` collects a
    * view and `index` shapes the collected rows for lookups. A fold
    * takes, per new version in publish order, the rows whose `key` that
    * version tombstoned out and appends the rows of its `add` segment
    * (collected by `rows`), then runs `index` over the result. That is
    * the merge-on-read fold of [[readWithMeta]] over the same segments,
    * so it holds the rows a fresh collect would return, in the order
    * the view's scans produce them. */
  private def rowsMemo[R: scala.reflect.ClassTag, T <: AnyRef](name: String,
      within: ((Long, Seq[Long])) => Boolean)(rows: DataFrame => Array[R])(
      key: R => Any)(index: Array[R] => T): KbStore.Memo[KbStore.Resident[R, T]] = {
    def resident(collected: Array[R]) = KbStore.Resident(collected, index(collected))
    new KbStore.Memo[KbStore.Resident[R, T]](name, name,
      load = l => Option.when(within(l))(resident(rows(view(name, l)))),
      folds = _ => true,
      fold = (r, l, versions) => Option.when(within(l)) {
        val columns = baseSegment(name, l._1).columns
        resident(versions.foldLeft(r.rows) { (acc, v) =>
          val (gone, add) = versionDelta(name, v)
          val kept = if (gone.isEmpty) acc else acc.filterNot(r => gone(key(r)))
          add.fold(kept)(a => kept ++ rows(a.select(columns.map(col(_)): _*)))
        })
      })
  }

  /** The live layout of table `name`, resident (see the class doc) while
    * its view is planned at most [[residentCap]]; the size comes from
    * the resolved scans' file sizes, so deciding runs no job
    * ([[plannedBytes]]). */
  private def resident[R: scala.reflect.ClassTag, T <: AnyRef](name: String)(
      rows: DataFrame => Array[R])(key: R => Any)(index: Array[R] => T): Option[T] =
    held(rowsMemo(name, plannedBytes(name, _) <= residentCap)(rows)(key)(index))
      .map(_.value)

  /** The live docs layout's doc table, when resident. */
  private def docTable(): Option[KbStore.DocTable] =
    resident("docs")(_.as[Doc].collect())(_.id)(new KbStore.DocTable(_))

  /** Doc rows of `ids` keyed by id, from the resident doc table when it
    * is resident, else by a filtered Spark read; ids without a doc are
    * absent. Read paths only: a write's guard reads stay Spark reads. */
  private def docsById(ids: Seq[Long]): Map[Long, Doc] = docTable() match {
    case Some(t) => ids.flatMap(id => t.byId.get(id).map(id -> _)).toMap
    case None => docs.filter($"id".isin(ids: _*)).collect()
      .map(d => d.id -> d).toMap
  }

  /** [[docsById]] keyed by `emb_id`. */
  private def docsByEmbId(ids: Seq[Long]): Map[Long, Doc] = docTable() match {
    case Some(t) => ids.flatMap(id => t.byEmbId.get(id).map(id -> _)).toMap
    case None => docs.filter($"emb_id".isin(ids: _*)).collect()
      .map(d => d.emb_id.get -> d).toMap
  }

  /** Ranked `(emb_id, score)` hits as [[Retrieval]]s, in order, each
    * hydrated with its doc by [[docsByEmbId]]. */
  private def hydrate(hits: collection.Seq[(Long, Double)]): Seq[Retrieval] =
    if (hits.isEmpty) Seq.empty
    else {
      val docByEmb = docsByEmbId(hits.map(_._1).toSeq)
      hits.map { case (embId, score) => Retrieval(score, docByEmb(embId)) }.toSeq
    }

  /** Row count of `name`'s resident table for the live layout, if one
    * is held, for specs. Rows held for an earlier layout, kept for the
    * next read to fold, do not count. */
  private[graft] def residentRowsForSpec(name: String): Seq[Int] =
    Option(residents.get(name)).toSeq.collect {
      case KbStore.Held(_, layout, Some(r: KbStore.Resident[_, _]))
          if layout == layoutOf(metaCache, name) => r.rows.length
    }

  /** The current ANN index's centroids as (cid, cvec), collected once
    * per ivf_centroids layout and never capped. */
  private def ivfCentroids(): Seq[(Long, Array[Double])] =
    held(rowsMemo(KbStore.IvfCentroidsTable, _ => true)(
      _.select($"cid", $"cvec").as[(Long, Array[Double])].collect())(_._1)(
      _.toSeq)).get.value

  /** The current ANN index's inverted lists, when resident. */
  private def ivfLists(): Option[KbStore.IvfLists] =
    resident(KbStore.IvfAssignTable)(
      _.select($"cid", $"vec_id").as[(Long, Long)].collect())(_._2)(
      new KbStore.IvfLists(_))

  /** The current text index's postings and doc lengths, when both are
    * resident. */
  private def textIndex(): Option[(graft.ops.TextRetrieval.Postings,
      graft.ops.TextRetrieval.DocLengths)] =
    for {
      p <- resident(KbStore.TextPostingsTable)(
        _.select($"term", $"doc_id", $"tf").as[(String, Long, Double)]
          .collect())(_._2)(new graft.ops.TextRetrieval.Postings(_))
      l <- resident(KbStore.TextDocLensTable)(
        _.select($"doc_id", $"dl").as[(Long, Double)].collect())(_._1)(
        new graft.ops.TextRetrieval.DocLengths(_))
    } yield (p, l)

  /** The live keyval layout keyed by key, when resident. */
  private def keyTable(): Option[Map[String, KV]] =
    resident("keyval")(_.as[KV].collect())(_.key)(
      _.iterator.map(kv => kv.key -> kv).toMap)

  /** The batch-built retrieval index (reference `_EmbeddingsMatrix`,
    * `kb.py:856-893`): a read-memo entry (see the class doc), built on
    * the first retrieve by `VectorIndex.fromPacked` straight from the
    * embeddings view, so a cold build below its local threshold runs a
    * count and one collect and persists nothing. None when the store
    * has no embeddings.
    *
    * After a write that appended versions to the embeddings chain, a
    * driver-local index is brought forward instead of rebuilt: per new
    * version, the ids it tombstoned leave and its `add` rows, packed by
    * the same `floatVecPack`, join as one more stripe
    * ([[graft.ops.VectorIndex.updated]]). A result above the local
    * threshold, or an empty one, is built from scratch like any other
    * layout.
    */
  def index(): Option[graft.ops.VectorIndex] = held(indexMemo)

  private val indexMemo = {
    import graft.functions.FloatVecPack.floatVecPack
    new KbStore.Memo[graft.ops.VectorIndex]("index", "embeddings",
      load = l => graft.ops.VectorIndex.fromArrays(view("embeddings", l)),
      folds = _.isLocal,
      fold = (idx, _, versions) => versions.foldLeft(Option(idx)) { (acc, v) =>
        acc.flatMap { i =>
          val (gone, add) = versionDelta("embeddings", v)
          val rows = add.fold(Array.empty[(Long, Array[Byte])])(
            _.select($"id", floatVecPack($"vec")).as[(Long, Array[Byte])].collect())
          i.updated(gone.map(_.asInstanceOf[Long]), rows.map(_._1),
            Array.concat(rows.map(_._2).toSeq: _*))
        }
      }.filter(_.count > 0),
      release = _.unpersist())
  }

  // ------------------------------------------------------------------
  // commit machinery
  // ------------------------------------------------------------------
  /** Manifest CAS with disjoint-footprint adoption (r7) — the
    * multi-writer relaxation of the single-writer contract: if another
    * writer published since this store snapshotted the manifest, the
    * commit may still proceed PROVIDED the interloper's footprint is
    * provably disjoint from ours, by adopting the interloper's head as
    * the new base snapshot. Disjoint means:
    *
    *   - no table whose pointer/base/delta-chain the interloper moved
    *     is in our write set (`touched`), AND
    *   - no manifest field the interloper changed (id high-water marks,
    *     embedding/index params, schema version) is also changed by our
    *     `newMeta` — checked by applying `newMeta` to the interloper's
    *     head and diffing fieldwise, so a keyval writer (identity on
    *     max_doc_id) retries across a doc-add writer's bump, while two
    *     doc-add writers (both setting max_doc_id) still conflict.
    *
    * Anything else throws ConcurrentModificationException, as before.
    * Check BEFORE staging: version N+1 staging dirs are deterministic,
    * so a stale writer that proceeded would overwrite the other
    * writer's just-published v<N+1> tables — failing (or adopting)
    * here costs nothing. The check-then-write window during staging
    * remains documented best-effort, not a true filesystem CAS.
    *
    * Correctness caveat, ENFORCED (r8): adoption re-applies OUR patch
    * plans (computed under the old snapshot) against the new head.
    * That is sound only when every table those plans READ was not
    * moved by the interloper. Most mutations read exactly their write
    * set (read-your-writes), but e.g. an index refresh reads the
    * embeddings table while writing only the codes table — `readSet`
    * carries those extra reads into the overlap check, so a commit
    * whose inputs the interloper moved rejects instead of silently
    * committing stale derived rows.
    */
  private def casOrAdopt(touched: Set[String],
      newMeta: KbMeta => KbMeta,
      readSet: Set[String] = Set.empty): KbMeta = synchronized {
    val cur = metaCache
    val onDisk = KbStore.readMeta(path)
    if (onDisk.version == cur.version) return cur
    def metaFieldDiff(a: KbMeta, b: KbMeta): Set[String] = {
      val d = Set.newBuilder[String]
      if (a.schema_version != b.schema_version) d += "schema_version"
      if (a.embedding_params != b.embedding_params) d += "embedding_params"
      if (a.max_doc_id != b.max_doc_id) d += "max_doc_id"
      if (a.max_edge_id != b.max_edge_id) d += "max_edge_id"
      if (a.index_params != b.index_params) d += "index_params"
      d.result()
    }
    val movedTables =
      (onDisk.table_versions.keySet ++ cur.table_versions.keySet).filter {
        t => onDisk.table_versions.get(t) != cur.table_versions.get(t) ||
          onDisk.table_bases.get(t) != cur.table_bases.get(t) ||
          onDisk.table_deltas.get(t) != cur.table_deltas.get(t)
      }
    val tableOverlap = movedTables.intersect(touched ++ readSet)
    val fieldOverlap = metaFieldDiff(cur, onDisk)
      .intersect(metaFieldDiff(onDisk, newMeta(onDisk)))
    if (onDisk.version < cur.version || tableOverlap.nonEmpty ||
        fieldOverlap.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"store $path: manifest version moved ${cur.version} -> " +
          s"${onDisk.version} since this writer's snapshot and the " +
          s"concurrent writer's footprint overlaps ours (tables: " +
          s"${tableOverlap.mkString(",")}; fields: " +
          s"${fieldOverlap.mkString(",")}) — not retryable")
    // disjoint: adopt the interloper's head and commit on top of it
    metaCache = onDisk
    invalidate()
    onDisk
  }

  /** Write `df` as segment dir `dir`, partitioned by `partitionCols`
    * when there are any. A partitioned write is shuffled by those
    * columns first, so one task writes each partition value and its dir
    * holds one file, not one per input partition: every scan of it (a
    * query's term buckets, or the whole table a resident read collects)
    * opens each file. */
  private def writeSegment(df: DataFrame, dir: String, codec: String,
      partitionCols: Seq[String]): Unit =
    (if (partitionCols.isEmpty) df else df.repartition(partitionCols.map(col): _*))
      .write.mode(SaveMode.Overwrite).option("compression", codec)
      .partitionBy(partitionCols: _*).parquet(dir)

  /** The one publish path (reference M10, `kb.py:794-829`): stage every
    * table of `writes` under version N+1, then atomically publish the
    * manifest that names it. Tables not in `writes` keep their layout —
    * carry-forward moves zero bytes (the property that makes point
    * mutations affordable when one table is 100 TB and another is a
    * 5-row keyval). Each table of the write set is one of:
    *
    *   - a [[KbStore.Rewrite]]: its rows become the new base `v<N+1>`,
    *     and the old base's segment chain goes with it;
    *   - a [[KbStore.TablePatch]]: only the mutation's tombstone keys and
    *     add rows are staged, under `v<N+1>/{del,add}`, and N+1 extends
    *     the chain — a 1-doc add to a 100 TB table writes one tiny file.
    *     A chain already at [[KbStore.DeltaChainLimit]] is MINOR-compacted
    *     (LSM-style) instead: N+1 becomes its one delta, with `del` the
    *     union of the chain's and the patch's tombstone keys and `add`
    *     the chain and the patch folded over an EMPTY base
    *     ([[foldPatches]]). Both come from the segments alone, so the base
    *     is never read or rewritten and write volume stays O(accumulated
    *     changes). Correct because mutations never add a key that exists
    *     un-tombstoned: adds allocate fresh high-water ids and updates
    *     tombstone before re-adding. compact() remains the explicit MAJOR
    *     compaction that folds chains into a fresh base.
    *
    * Every segment keeps its table's [[KbStore.DeltaPartitioning]] and is
    * written with `codec`.
    *
    * Dataset card: when the stats table is live and a patch touches a
    * user-data table, `statsDelta` (run only here, after adoption, so two
    * disjoint writers' deltas both accumulate) is folded into the card in
    * the same publish. A data patch without a delta drops the card
    * instead — a card that silently stops moving is worse than no card.
    * Rewrites leave the card as it is.
    *
    * `replacesVectors` marks a write that REPLACES vectors: the
    * vector-derived index families' pointers (and chains) drop, and the
    * next vacuum reclaims their dirs. Any other embeddings write leaves
    * them STALE (older than embeddings): their rows stay valid, and each
    * family's refresh catches up incrementally.
    *
    * The manifest moves by [[casOrAdopt]] and a version-checked publish.
    * If another disjoint writer published between our adoption and our
    * publish, the publish raises PublishConflict and the whole
    * adopt→stage→publish cycle re-runs against the new head, at most
    * [[KbStore.CasMaxRetries]] more times, so N interleaved disjoint
    * writers all land. Any failure deletes the staged dirs, and the
    * manifest still names N.
    */
  private def publish(writes: Map[String, KbStore.TableWrite],
      newMeta: KbMeta => KbMeta, replacesVectors: Boolean = false,
      statsDelta: Option[() => KbStore.StatsDelta] = None,
      readSet: Set[String] = Set.empty, codec: String = "snappy"): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      val cur = casOrAdopt(writes.keySet, newMeta, readSet)
      val next = cur.version + 1
      val touchesData = writes.exists {
        case (name, _: KbStore.TablePatch) => KbStore.DataTables(name)
        case _ => false
      }
      val (all, dropStats) =
        if (!touchesData || !cur.table_versions.contains(KbStore.StatsTable))
          (writes, false)
        else statsDelta match {
          case Some(thunk) =>
            val d = thunk()
            val card = readStatsCard()
            val rows = Seq(
              ("n_docs", card.getOrElse("n_docs", 0L) + d.docs),
              ("n_embeddings", card.getOrElse("n_embeddings", 0L) + d.embeddings),
              ("n_edges", card.getOrElse("n_edges", 0L) + d.edges),
              ("n_keys", card.getOrElse("n_keys", 0L) + d.keys),
              ("n_chars", card.getOrElse("n_chars", 0L) + d.chars))
            (writes + (KbStore.StatsTable -> KbStore.TablePatch(
              del = Some(rows.map(_._1).toDF("metric")),
              add = Some(rows.toDF("metric", "value")))), false)
          case None => (writes, true)
        }
      try {
        // every segment dir written below, with the schema written to it
        val staged = Seq.newBuilder[(String, StructType)]
        def stage(df: DataFrame, dir: String, partitionCols: Seq[String]): Unit = {
          writeSegment(df, dir, codec, partitionCols)
          staged += dir -> df.schema
        }
        // the new (base, chain) of each patched table
        val extended = all.toSeq.flatMap { case (name, write) =>
          val dir = tableDir(name, next)
          val parts = KbStore.DeltaPartitioning.getOrElse(name, Nil)
          write match {
            case KbStore.Rewrite(rows) =>
              stage(rows, dir, parts)
              None
            case patch: KbStore.TablePatch =>
              val (base, chain) = layoutOf(cur, name)
              val full = chain.size >= KbStore.DeltaChainLimit
              val (add, del) =
                if (!full) (patch.add,
                  patch.del.map(_.select(KbStore.DeltaKeys(name).map(col(_)): _*)))
                else {
                  val (merged, gone) = foldPatches(name,
                    baseSegment(name, base).limit(0),
                    chain.map(published(name, _)) :+ patch)
                  (Some(merged), gone.map(_.distinct()))
                }
              del.foreach(stage(_, s"$dir/del", Nil))
              add.foreach(stage(_, s"$dir/add", parts))
              Some(name -> (base, (if (full) Nil else chain) :+ next))
          }
        }
        val dropped = (if (dropStats) Seq(KbStore.StatsTable) else Nil) ++
          (if (replacesVectors) KbStore.VectorIndexTables else Nil)
        // every written table's old layout goes; a rewritten one is its
        // new base alone, a patched one gets its new chain
        val m = newMeta(cur).copy(version = next,
          table_versions =
            cur.table_versions ++ all.keys.map(_ -> next) -- dropped,
          table_bases = cur.table_bases -- all.keys ++
            extended.map { case (name, (base, _)) => name -> base } -- dropped,
          table_deltas = cur.table_deltas -- all.keys ++
            extended.map { case (name, (_, chain)) => name -> chain } -- dropped)
        prePublishHook()
        KbStore.writeMetaAtomic(path, m, expectVersion = Some(cur.version))
        metaCache = m
        invalidate()
        seedSchemas(m, staged.result())
        done = true
      } catch {
        case e: Throwable =>
          // rollback: remove staged dirs, meta still points at `cur`
          all.keys.foreach(name => deleteDir(Paths.get(tableDir(name, next))))
          e match {
            case _: KbStore.PublishConflict
                if attempt < KbStore.CasMaxRetries => attempt += 1
            case _: KbStore.PublishConflict =>
              throw new java.util.ConcurrentModificationException(
                s"store $path: manifest publish raced " +
                  s"${KbStore.CasMaxRetries + 1} consecutive times — giving up")
            case _ => throw e
          }
      }
    }
  }

  // ------------------------------------------------------------------
  // reads (SURVEY §2.2, §2.4)
  // ------------------------------------------------------------------
  def countDocs: Long = docs.count()
  def countEdges: Long = edges.count()
  def countKeys: Long = keyval.count()
  def len: Long = countDocs

  // ------------------------------------------------------------------
  // dataset card (incrementally-maintained corpus stats)
  // ------------------------------------------------------------------
  private def readStatsCard(): Map[String, Long] =
    read(KbStore.StatsTable).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def computeStatsCard(): Map[String, Long] = Map(
    "n_docs" -> docs.count(),
    "n_embeddings" -> embeddings.count(),
    "n_edges" -> edges.count(),
    "n_keys" -> keyval.count(),
    "n_chars" -> docs.toDF()
      .agg(coalesce(sum(length($"text")), lit(0L)))
      .collect()(0).getLong(0))

  /** Seed (or reseed) the incrementally-maintained stats table from a
    * full pass over the data tables. After this, every tracked mutation
    * folds its own delta into the card inside the same atomic commit —
    * [[datasetCard]] stays O(5 rows) to read no matter how large the
    * store grows. A future untracked data mutation drops the card
    * (visible as a fallback full recompute) rather than serving stale
    * numbers.
    */
  def buildStats(): Unit = {
    val card = computeStatsCard()
    publish(Map(KbStore.StatsTable -> KbStore.Rewrite(
      card.toSeq.sortBy(_._1).toDF("metric", "value"))), identity)
  }

  /** The corpus dataset card: row counts per table + total text chars.
    * O(1) from the maintained stats table when present; a full
    * recompute otherwise.
    */
  def datasetCard: Map[String, Long] =
    if (metaCache.table_versions.contains(KbStore.StatsTable))
      readStatsCard()
    else computeStatsCard()

  /** P1 fetch_doc (`kb.py:416-473`), from the resident doc table;
    * NoSuchElementException on miss. */
  def fetchDoc(id: Long): Doc =
    docsById(Seq(id)).getOrElse(id,
      throw new NoSuchElementException(s"doc $id"))

  /** P1 with embedding joined in (include_embedding=True). */
  def fetchDocWithEmbedding(id: Long): (Doc, Option[Array[Float]]) = {
    val d = fetchDoc(id)
    val v = d.emb_id.flatMap { e =>
      embeddings.filter($"id" === e).collect().headOption.map(_.vec)
    }
    (d, v)
  }

  /** P2 children in id order (`kb.py:475-491`). */
  def fetchChildren(id: Long): Seq[Doc] =
    docs.filter($"parent_id" === id).orderBy($"id").collect().toSeq

  /** P3 docs at level in id order (`kb.py:493-509`). */
  def fetchDocsAtLevel(level: Int): Seq[Doc] =
    docs.filter($"level" === level).orderBy($"id").collect().toSeq

  /** P4 inverse embedding lookup (`kb.py:511-524`). */
  def fetchDocWithEmbId(embId: Long): Doc =
    docsByEmbId(Seq(embId)).getOrElse(embId,
      throw new NoSuchElementException(s"emb $embId"))

  // ------------------------------------------------------------------
  // doc mutations (SURVEY §2.8 M1-M5)
  // ------------------------------------------------------------------
  /** Bulk add scope (M2, `kb.py:1486-1524`): queue docs via the passed
    * adder, embed in batches of 200 on scope exit, commit once.
    * Returns assigned ids (dense, 1-based, insertion order).
    */
  def bulkAddDocs(provider: EmbeddingProvider)(
      body: KbStore.DocAdder => Unit): Seq[Long] = {
    val adder = new KbStore.DocAdder(this)
    body(adder)
    val newDocs = adder.result
    if (newDocs.isEmpty) return Seq.empty

    val curMeta = metaCache
    var nextDocId = curMeta.max_doc_id
    var nextEmbId = curMeta.max_doc_id // emb ids share the doc counter space

    // resolve levels: parents either pre-existing or earlier in this batch
    val knownLevels = mutable.Map[Long, Int]()
    val parentIds = newDocs.flatMap(_.parentId).distinct
    if (parentIds.nonEmpty) {
      docs.filter($"id".isin(parentIds: _*))
        .select($"id", $"level").collect()
        .foreach(r => knownLevels(r.getLong(0)) = r.getInt(1))
    }

    val staged = newDocs.map { nd =>
      nextDocId += 1
      val level = nd.parentId match {
        case None => 0
        case Some(p) => knownLevels.getOrElse(p,
          throw new IllegalArgumentException(s"parent $p does not exist")) + 1
      }
      knownLevels(nextDocId) = level
      (nextDocId, nd, level)
    }

    // batched embedding backfill (chunk=200, reference kb.py:52)
    val toEmbed = staged.filter(!_._2.noEmbedding)
    val vecs = toEmbed.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
      Embeddings.checkMagnitude(provider.embed(chunk.map(_._2.text)))
    }.toSeq
    val embRows = toEmbed.zip(vecs).map { case ((_, _, _), v) =>
      nextEmbId += 1
      Emb(nextEmbId, v)
    }
    val embIdByDocId = toEmbed.map(_._1).zip(embRows.map(_.id)).toMap

    val docRows = staged.map { case (id, nd, level) =>
      Doc(id, nd.parentId, level, nd.text, embIdByDocId.get(id), nd.meta)
    }

    publish(
      Map(
        "docs" -> KbStore.TablePatch(
          add = Some(spark.createDataset(docRows).toDF())),
        "embeddings" -> KbStore.TablePatch(
          add = Some(spark.createDataset(embRows).toDF()))),
      m => m.copy(max_doc_id = math.max(nextDocId, nextEmbId)),
      statsDelta = Some(() => KbStore.StatsDelta(
        docs = docRows.size, embeddings = embRows.size,
        chars = docRows.iterator.map(_.text.length.toLong).sum)))
    staged.map(_._1)
  }

  /** Distributed bulk add — the 100 TB face of M2 (SURVEY §3.2 plan):
    * `newDocs` is a DataFrame with `(text STRING, parent_id LONG?,
    * meta STRING?)` of arbitrary size. Ids are assigned densely from the
    * persisted high-water mark via `zipWithIndex` (deterministic,
    * partition-ordered — no `monotonically_increasing_id` gaps); levels
    * are derived with one join against existing docs (parents must
    * pre-exist here — intra-batch hierarchies are the driver-side
    * scope's job); embedding happens inside `mapPartitions` in provider
    * batches of 200 (connection reuse per partition); one atomic commit
    * appends both tables.
    */
  /** Optional `ingestMarker` = (key, value): persist this keyval row in
    * the SAME atomic commit as the added docs — the idempotence token a
    * replayed streaming micro-batch checks before re-applying (a marker
    * written in a separate commit could be lost between the add and the
    * marker, which is exactly the window replays hit).
    */
  def bulkAddDocsDistributed(newDocs: DataFrame,
      provider: EmbeddingProvider,
      ingestMarker: Option[(String, Long)] = None): Long = {
    val n0 = metaCache.max_doc_id
    val withMeta =
      if (newDocs.columns.contains("meta")) newDocs
      else newDocs.withColumn("meta", lit(null).cast("string"))
    val withParent =
      if (withMeta.columns.contains("parent_id")) withMeta
      else withMeta.withColumn("parent_id", lit(null).cast("long"))

    // pre-embedded path (the semantic ingest screen's commit leg): a
    // `vec ARRAY<FLOAT>` column carries provider output the caller
    // already paid for — the screen embeds BEFORE screening, so
    // re-calling the provider for the survivors would double the
    // provider bill. Magnitude-checked like every other embedding
    // entry point; absent the column, the provider is called as before.
    // The path engages ONLY on the exact ArrayType(FloatType) schema
    // the screen produces: a `vec` column of any other type (e.g. the
    // packed-BINARY corpus convention) is ignored like every other
    // extra column, as it was before this path existed — not crashed
    // on, not silently committed.
    val hasVec = withParent.schema.fields.exists(f =>
      f.name == "vec" && (f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }))
    import spark.implicits._
    // dense id assignment from the high-water mark. Persisted: the
    // id-bearing frame feeds the parent check, both table writes, and
    // the added-count — without a persist each of those re-runs
    // zipWithIndex over the (arbitrarily large) input
    val ids = (if (hasVec) {
      withParent
        .select(col("text"), col("parent_id").cast("long"), col("meta"),
          col("vec"))
        .rdd.zipWithIndex()
        .map { case (r, i) =>
          (n0 + 1 + i, Option(r.get(1)).map(_.asInstanceOf[Long]),
            r.getString(0), Option(r.getString(2)), r.getSeq[Float](3))
        }.toDF("id", "parent_id", "text", "meta", "vec")
    } else {
      withParent
        .select(col("text"), col("parent_id").cast("long"), col("meta"))
        .rdd.zipWithIndex()
        .map { case (r, i) =>
          (n0 + 1 + i, Option(r.get(1)).map(_.asInstanceOf[Long]),
            r.getString(0), Option(r.getString(2)))
        }.toDF("id", "parent_id", "text", "meta")
    }).persist(StorageLevel.MEMORY_AND_DISK)
    // every step from here to the commit can fail (the missing-parent
    // check throws), so the persist is released on every path
    try {
      // ONE stats pass over the cached id frame: row count, char volume
      // (the dataset-card delta) and whether any row carries a parent —
      // previously three separate jobs (count, chars agg, the
      // missing-parent isEmpty), each a full dispatch per micro-batch
      val stats = ids.agg(count(lit(1)), coalesce(sum(length($"text")),
        lit(0L)), count($"parent_id")).collect()(0)
      val added = stats.getLong(0)
      val charsAdded = stats.getLong(1)
      val anyParents = stats.getLong(2) > 0L

      // level derivation: one broadcast-or-shuffle join against existing
      // docs; missing parents fail the job before anything is committed.
      // A batch with NO parent_ids (the common root-docs ingest shape)
      // skips the join — and with it the per-batch scan of the docs
      // table, which at 100 TB is the difference between O(batch) and
      // O(corpus) per micro-batch commit
      val levelled = if (!anyParents) {
        val cols = Seq($"id", $"parent_id", $"text", $"meta",
          lit(0).as("level")) ++ (if (hasVec) Seq($"vec") else Nil)
        ids.select(cols: _*)
      } else {
        val parents = docs.toDF().select($"id".as("pid"), $"level".as("plevel"))
        val levelCols = Seq($"id", $"parent_id", $"text", $"meta",
          when($"parent_id".isNull, 0).otherwise($"plevel" + 1).as("level")) ++
          (if (hasVec) Seq($"vec") else Nil)
        val lv = ids.join(parents, ids("parent_id") === col("pid"), "left")
          .select(levelCols: _*)
        val missing = lv.filter($"parent_id".isNotNull && $"level".isNull)
        if (!missing.isEmpty)
          throw new IllegalArgumentException(
            "some parent_ids do not exist in the store")
        lv
      }

      // batched embedding inside mapPartitions (chunk=200, kb.py:52);
      // emb ids share the doc id (1:1 for the distributed path)
      val prov = provider
      val embRows =
        if (hasVec)
          levelled.select($"id", $"vec").as[(Long, Array[Float])]
            .mapPartitions { it =>
              it.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
                val vecs = Embeddings.checkMagnitude(chunk.map(_._2))
                chunk.map(_._1).zip(vecs).map { case (id, v) => Emb(id, v) }
              }
            }
        else
          levelled.select($"id", $"text").as[(Long, String)]
            .mapPartitions { it =>
              it.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
                val vecs = Embeddings.checkMagnitude(prov.embed(chunk.map(_._2)))
                chunk.map(_._1).zip(vecs).map { case (id, v) => Emb(id, v) }
              }
            }

      val docRows = levelled.select($"id", $"parent_id",
        $"level".cast("int").as("level"), $"text", $"id".as("emb_id"), $"meta")
      // small batches (the streaming micro-batch shape) collapse to one
      // output file per segment: the source frame inherits the session's
      // parallelism, so without this a 500-doc commit writes ~32 tiny
      // files per table whose chain every subsequent read must fold —
      // file-count hygiene per guide §6, worth nothing at bulk-load
      // sizes (left untouched) and a lot at high commit frequency.
      // docRows coalesce (no exchange — building a doc row is trivial);
      // embRows REPARTITION (r13 verdict item 10): a coalesce(1) here
      // collapsed the embedding mapPartitions into one task, serializing
      // up to ~11 provider chunk calls that a remote provider wants in
      // parallel — the repartition's exchange keeps the embed stage at
      // source parallelism and single-tasks only the file write, at the
      // cost of shuffling one micro-batch of vectors (~12 MB at 2048 ×
      // d1536, local)
      val onePart = (df: DataFrame) =>
        if (added <= 2048) df.coalesce(1) else df
      val onePartShuffled = (df: DataFrame) =>
        if (added <= 2048) df.repartition(1) else df
      val patches = Map(
        "docs" -> KbStore.TablePatch(add = Some(onePart(docRows))),
        "embeddings" -> KbStore.TablePatch(
          add = Some(onePartShuffled(embRows.toDF())))) ++
        ingestMarker.map { case (mk, mv) =>
          "keyval" -> KbStore.TablePatch(
            del = Some(Seq(mk).toDF("key")),
            add = Some(spark.createDataset(Seq(KV.of(mk, mv))).toDF()))
        }
      publish(patches, m => m.copy(max_doc_id = n0 + added),
        statsDelta = Some(() => KbStore.StatsDelta(
          docs = added, embeddings = added,
          keys = ingestMarker.map(m =>
            if (hasKey(m._1)) 0L else 1L).getOrElse(0L),
          // char volume precomputed in the single stats pass above —
          // the thunk no longer dispatches its own aggregation job
          chars = charsAdded)))
      added
    } finally ids.unpersist(blocking = false)
  }

  /** Bulk delete (M3, `kb.py:360-414`): per-id parent guard honoring
    * in-batch deletion order, cascade to incident edges (including edges
    * whose relationship is the doc) and the embedding row.
    */
  def bulkDelDocs(ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    // guard: child links among docs whose parent is being deleted
    val childLinks = docs.filter($"parent_id".isin(ids: _*))
      .select($"id", $"parent_id").as[(Long, Long)].collect()
    val pos = ids.zipWithIndex.toMap
    ids.zipWithIndex.foreach { case (d, p) =>
      childLinks.filter(_._2 == d).foreach { case (child, _) =>
        if (!pos.get(child).exists(_ < p))
          throw new IllegalStateException(
            s"cannot delete doc $d: it is a parent of $child")
      }
    }
    val existing = docs.filter($"id".isin(ids: _*))
      .select($"id", $"emb_id", length($"text").cast("long")).collect()
    if (existing.length != ids.distinct.length)
      throw new NoSuchElementException(
        s"some ids do not exist: ${ids.diff(existing.map(_.getLong(0)).toSeq)}")

    val embIds = existing.flatMap(r =>
      if (r.isNullAt(1)) None else Some(r.getLong(1))).toSet
    val delChars = existing.iterator
      .map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
    // tombstones only: the doc ids, their embedding rows, and the ids of
    // cascading edges (an O(edges) scan finds them, but the WRITE is
    // O(matches) — the delta-commit contract)
    val edgeIds = edges.filter(
        $"src".isin(ids: _*) || $"dst".isin(ids: _*) || $"rel".isin(ids: _*))
      .select($"id").toDF()
    publish(
      Map(
        "docs" -> KbStore.TablePatch(del = Some(ids.distinct.toDF("id"))),
        "edges" -> KbStore.TablePatch(del = Some(edgeIds))) ++
        (if (embIds.isEmpty) Map.empty else Map("embeddings" ->
          KbStore.TablePatch(del = Some(embIds.toSeq.toDF("id"))))),
      identity,
      statsDelta = Some(() => KbStore.StatsDelta(
        docs = -ids.distinct.size.toLong,
        embeddings = -embIds.size.toLong,
        edges = -edgeIds.count(),
        chars = -delChars)))
  }

  /** M3 at 100 TB: delete an arbitrary-size id set supplied as a
    * DataFrame with one `id LONG` column. Set semantics — the whole set
    * leaves atomically, so a parent may be deleted together with its
    * children in one call (the driver-side [[bulkDelDocs]] instead
    * honors in-batch order, a contract that cannot distribute). Deleting
    * a parent whose child survives fails, as does a non-existent id.
    * Every check is an equi semi/anti join; nothing is collected to the
    * driver.
    */
  def bulkDelDocsDistributed(ids: DataFrame): Unit = {
    val del = ids.select(col("id").cast("long").as("del_id"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (!del.join(docs.toDF(), del("del_id") === col("id"), "left_anti")
          .isEmpty)
        throw new NoSuchElementException("some ids do not exist")
      val survivors = docs.toDF()
        .join(del, col("id") === del("del_id"), "left_anti")
      if (!survivors.join(del,
          survivors("parent_id") === del("del_id"), "left_semi").isEmpty)
        throw new IllegalStateException(
          "cannot delete docs that are parents of surviving docs")
      val embIds = docs.toDF()
        .join(del, col("id") === del("del_id"), "left_semi")
        .filter(col("emb_id").isNotNull)
        .select(col("emb_id").as("id"))
      // cascade: any edge touching a deleted id in any role goes — three
      // equi semi-joins collect the victim ids (instead of one non-equi
      // condition, which would nested-loop); only those ids are written
      val edgeIds = Seq("src", "dst", "rel").map { c =>
        val e = edges.toDF()
        e.join(del, e(c) === del("del_id"), "left_semi").select(col("id"))
      }.reduce(_ union _).distinct()
      publish(
        Map(
          "docs" -> KbStore.TablePatch(
            del = Some(del.select(col("del_id").as("id")))),
          "embeddings" -> KbStore.TablePatch(del = Some(embIds)),
          "edges" -> KbStore.TablePatch(del = Some(edgeIds))),
        identity,
        statsDelta = Some(() => KbStore.StatsDelta(
          docs = -del.count(),
          embeddings = -embIds.count(),
          edges = -edgeIds.count(),
          chars = -docs.toDF()
            .join(del, col("id") === del("del_id"), "left_semi")
            .agg(coalesce(sum(length(col("text"))), lit(0L)))
            .collect()(0).getLong(0))))
    } finally del.unpersist(blocking = false)
  }

  /** M5 set_doc_embedding (`kb.py:526-571`): replace, set, or clear one
    * document's embedding. Without `skipCheckOld` the old embedding row is
    * deleted first (KeyError → NoSuchElementException if the doc is
    * missing); with it the old row is left alone — the caller already
    * handled it (the reference's bulk backfill path, `kb.py:1059`).
    * The new embedding id is max(current ids) + 1 — the same observable
    * id sequence as the reference's sqlite rowid assignment
    * (`tests/test_kb.py:408-430` pins the reuse-after-delete behavior).
    */
  def setDocEmbedding(docId: Long, embedding: Option[Array[Float]],
      skipCheckOld: Boolean = false): Unit = {
    // the reference's UPDATE raises when rowcount != 1 (kb.py:569-571)
    val docRow = docs.filter($"id" === docId).collect().headOption
      .getOrElse(throw new NoSuchElementException(s"doc $docId"))
    // without skipCheckOld the old embedding row is tombstoned; with it
    // the caller already handled the old row (bulk backfill, kb.py:1059)
    val delEmbId = if (skipCheckOld) None else docRow.emb_id
    val newEmbId = embedding.map { v =>
      val eff = delEmbId.map(e => embeddings.filter($"id" =!= e))
        .getOrElse(embeddings)
      val maxId = eff.toDF().agg(max($"id")).collect().head
      (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1L
    }
    val embPatch = KbStore.TablePatch(
      del = delEmbId.map(e => Seq(e).toDF("id")),
      add = embedding.map(v =>
        spark.createDataset(Seq(Emb(newEmbId.get, v))).toDF()))
    // a one-row doc patch (tombstone + re-add with the new emb_id) plus
    // the embedding delta; vector REPLACEMENT still drops the
    // vector-derived index families (replacesVectors)
    publish(
      Map(
        "docs" -> KbStore.TablePatch(
          del = Some(Seq(docId).toDF("id")),
          add = Some(spark.createDataset(
            Seq(docRow.copy(emb_id = newEmbId))).toDF())),
        "embeddings" -> embPatch),
      m => m.copy(max_doc_id =
        math.max(m.max_doc_id, newEmbId.getOrElse(0L))),
      replacesVectors = true,
      statsDelta = Some(() => KbStore.StatsDelta(
        embeddings = newEmbId.size.toLong - delEmbId.size.toLong)))
  }

  /** M4 update_doc_meta (`kb.py:347-358`). */
  def updateDocMeta(id: Long, newMeta: Option[String]): Unit = {
    val docRow = docs.filter($"id" === id).collect().headOption
      .getOrElse(throw new NoSuchElementException(s"doc $id"))
    publish(
      Map("docs" -> KbStore.TablePatch(
        del = Some(Seq(id).toDF("id")),
        add = Some(spark.createDataset(
          Seq(docRow.copy(meta = newMeta))).toDF()))),
      identity,
      statsDelta = Some(() => KbStore.StatsDelta()))
  }

  /** TEST DOOR (RefreshFastPathSpec): tombstone doc `id` and re-add it
    * with `newText` in one delta commit — the id-reuse-with-CHANGED-
    * text shape no public mutation currently produces (adds allocate
    * fresh high-water ids; [[updateDocMeta]] / [[setDocEmbedding]]
    * re-add the SAME text). The refresh routes must agree on it anyway
    * (the segment route re-indexes it by construction; the full-diff
    * fallback re-indexes it via [[fullDiffWithReadds]]), and any
    * future public mutation of this shape inherits that pinned
    * contract. Leaves the text/dedup families STALE like every doc
    * mutation. */
  private[graft] def replaceDocTextForSpec(id: Long, newText: String): Unit = {
    val docRow = docs.filter($"id" === id).collect().headOption
      .getOrElse(throw new NoSuchElementException(s"doc $id"))
    publish(
      Map("docs" -> KbStore.TablePatch(
        del = Some(Seq(id).toDF("id")),
        add = Some(spark.createDataset(
          Seq(docRow.copy(text = newText))).toDF()))),
      identity,
      statsDelta = Some(() => KbStore.StatsDelta(
        chars = newText.length.toLong - docRow.text.length.toLong)))
  }

  // ------------------------------------------------------------------
  // edge mutations (M8/M9, `kb.py:634-679`)
  // ------------------------------------------------------------------
  def addEdges(newEdges: Seq[(Long, Long, Long, Option[Double], Boolean)]): Seq[Long] = {
    if (newEdges.isEmpty) return Seq.empty
    val dupInBatch = newEdges.map(e => (e._1, e._2, e._3))
      .groupBy(identity).collectFirst { case (k, v) if v.size > 1 => k }
    dupInBatch.foreach(k => throw new IllegalStateException(
      s"duplicate edge in batch: $k"))
    // (src, dst, rel) uniqueness without materializing the edges table on
    // the driver: semi-join the stored edges against the (tiny, broadcast)
    // new-key set. At 10^9 stored edges this is a broadcast-hash probe on
    // the executors — the old collect().find() was a driver OOM waiting.
    val keyDf = spark.createDataset(
      newEdges.map(e => (e._1, e._2, e._3))).toDF("src", "dst", "rel")
    val clash = edges.toDF()
      .join(broadcast(keyDf), Seq("src", "dst", "rel"), "left_semi")
      .select($"src", $"dst", $"rel").as[(Long, Long, Long)]
      .limit(1).collect().headOption
    clash.foreach(k => throw new IllegalStateException(
      s"edge already exists: $k"))
    var next = metaCache.max_edge_id
    val rows = newEdges.map { case (s, d, r, w, dir) =>
      next += 1
      Edge(next, s, d, r, w, dir)
    }
    publish(
      Map("edges" -> KbStore.TablePatch(
        add = Some(spark.createDataset(rows).toDF()))),
      m => m.copy(max_edge_id = next),
      statsDelta = Some(() => KbStore.StatsDelta(edges = rows.size)))
    rows.map(_.id)
  }

  def addEdge(src: Long, dst: Long, rel: Long,
      weight: Option[Double] = None, directed: Boolean = false): Long =
    addEdges(Seq((src, dst, rel, weight, directed))).head

  def delEdge(id: Long): Unit = {
    if (edges.filter($"id" === id).isEmpty)
      throw new NoSuchElementException(s"edge $id")
    publish(Map("edges" ->
      KbStore.TablePatch(del = Some(Seq(id).toDF("id")))), identity,
      statsDelta = Some(() => KbStore.StatsDelta(edges = -1L)))
  }

  /** G1 directedness probe + export (`kb.py:681-722`): returns the edges
    * DataFrame; when any edge is directed, undirected edges are expanded
    * with their back-edges so a directed-graph consumer sees symmetric
    * connectivity.
    *
    * `multigraph = false` collapses parallel edges with networkx
    * simple-graph semantics — repeated `add_edge` overwrites, so the
    * LAST-inserted edge (max id) wins per key; the key is the directed
    * (src, dst) pair for directed graphs and the unordered pair for
    * undirected ones (`tests/test_kb.py:626-728` pins both).
    */
  def exportGraph(multigraph: Boolean = true): (Boolean, DataFrame) = {
    val anyDirected = !edges.filter($"directed").isEmpty
    val e = edges.toDF()
    val expanded = if (anyDirected) {
      e.union(e.filter(!$"directed").select($"id", $"dst".as("src"),
        $"src".as("dst"), $"rel", $"weight", $"directed"))
    } else e
    val out = if (multigraph) expanded
    else {
      import org.apache.spark.sql.expressions.Window
      val k1 = if (anyDirected) $"src" else least($"src", $"dst")
      val k2 = if (anyDirected) $"dst" else greatest($"src", $"dst")
      val w = Window.partitionBy(k1, k2).orderBy($"id".desc)
      expanded.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn")
    }
    (anyDirected, out)
  }

  // ------------------------------------------------------------------
  // keyval (M6/M7 + protocol `kb.py:1746-1756`)
  // ------------------------------------------------------------------
  def setKey(key: String, value: Any): Unit = {
    val row = KV.of(key, value)
    publish(
      Map("keyval" -> KbStore.TablePatch(
        del = Some(Seq(key).toDF("key")),
        add = Some(spark.createDataset(Seq(row)).toDF()))),
      identity,
      statsDelta = Some(() => KbStore.StatsDelta(
        keys = if (hasKey(key)) 0L else 1L)))
  }

  def hasKey(key: String): Boolean =
    !keyval.filter($"key" === key).isEmpty

  /** `key`'s row, from the resident keyval table when it is resident,
    * else by a filtered Spark read. Read paths only: [[hasKey]], the
    * guard writes use, stays a Spark read. */
  private def lookupKey(key: String): Option[KV] = keyTable() match {
    case Some(t) => t.get(key)
    case None => keyval.filter($"key" === key).collect().headOption
  }

  def getKey(key: String): Any =
    lookupKey(key)
      .getOrElse(throw new NoSuchElementException(s"key $key")).value

  def getKeyOr(key: String, default: Any): Any =
    lookupKey(key).map(_.value).getOrElse(default)

  /** `get(key, ExceptionClass)` raise protocol (`kb.py:1746-1756`): a
    * missing key re-raises the lookup error itself when the class IS a
    * lookup error, otherwise raises a fresh instance of the given class.
    */
  def getKeyRaising(key: String, raiseAs: Class[_ <: Throwable]): Any =
    lookupKey(key).map(_.value)
      .getOrElse {
        if (classOf[NoSuchElementException].isAssignableFrom(raiseAs))
          throw new NoSuchElementException(s"key $key")
        throw raiseAs.getDeclaredConstructor().newInstance()
      }

  def delKey(key: String): Unit = {
    if (!hasKey(key)) throw new NoSuchElementException(s"key $key")
    publish(Map("keyval" ->
      KbStore.TablePatch(del = Some(Seq(key).toDF("key")))), identity,
      statsDelta = Some(() => KbStore.StatsDelta(keys = -1L)))
  }

  def items: Seq[(String, Any)] =
    keyval.orderBy($"key").collect().toSeq.map(kv => kv.key -> kv.value)

  // ------------------------------------------------------------------
  // retrieval (§3.1) + pairwise (§3.3)
  // ------------------------------------------------------------------
  /** The flagship read (`kb.py:1608-1640`): embed the query, score all
    * cached vectors with a dot product (cosine via the unit-norm
    * invariant), top-n with the reference's tie order (larger id first,
    * `util.py:190-203`), then hydrate the hits from the resident doc
    * table — warm, no Spark job runs (see the class doc).
    */
  def retrieve(query: String, n: Int,
      provider: EmbeddingProvider): Seq[Retrieval] = {
    if (n <= 0) return Seq.empty
    val qv = Embeddings.checkMagnitude(provider.embed(Seq(query))).head
    index() match {
      case None => Seq.empty
      case Some(idx) => hydrate(idx.topK(qv, n)) // reference tie order
    }
  }

  /** §3.3 document_top_pairwise_scores (`kb.py:1642-1671`): exact
    * top-n pairs — without ever materializing the n×n matrix the
    * reference builds (`kb.py:1650`). Cardinality switch (SURVEY §7.3):
    * up to [[KbStore.PairwiseExactLimit]] vectors the blocked-grid EXACT
    * operator runs (per-cell bounded heaps, global merge); beyond that —
    * where exact all-pairs is infeasible on any engine — the sign-sketch
    * candidates + exact re-rank path takes over (disclosed approximation,
    * [[graft.ops.PairwiseTopK]] notes).
    */
  def topPairwiseScores(n: Int): Seq[(Double, Doc, Doc)] = {
    if (n <= 0) return Seq.empty
    // the count, the dim probe and the pairs operator each scan the
    // vectors: read them once, for this call only
    val packed = embeddings.toDF()
      .select($"id", graft.functions.FloatVecPack.floatVecPack($"vec").as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = try {
      val total = packed.count()
      if (total < 2) return Seq.empty
      val dim = packed.limit(1).collect().head.getAs[Array[Byte]](1).length / 4
      val blocks = math.max(1, math.min(32, total / 4096)).toInt
      val pairs =
        if (total <= KbStore.PairwiseExactLimit)
          graft.ops.PairwiseTopK.blockedTopKPairs(
            packed, dim, n, blocks, refTie = true)
        else
          graft.ops.PairwiseTopK.sketchTopKPairs(
            packed, dim, n, refTie = true)
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    } finally packed.unpersist(blocking = false)
    // build doc lookups for the few ids involved
    val ids = rows.flatMap(r => Seq(r._1, r._2)).distinct
    val docByEmb = docsByEmbId(ids.toSeq)
    rows.toSeq.map { case (i1, i2, s) => (s, docByEmb(i1), docByEmb(i2)) }
  }

  // ------------------------------------------------------------------
  // persistent batch-built ANN index (SURVEY §7.5 — "Spark builds the
  // vector index in batch"; no reference counterpart, its only index is
  // the in-RAM matrix)
  // ------------------------------------------------------------------
  /** Index lifecycle of family `f` (see [[KbStore.IndexFamily]]):
    * `None` — never built or invalidated by vector replacement (rebuild
    * required); `Stale` — source rows were added/deleted since the
    * build, existing rows still valid (its refresh catches up
    * incrementally); `Current` — serves queries. */
  private def indexState(f: KbStore.IndexFamily): KbStore.AnnState = {
    val tv = metaCache.table_versions
    if (!tv.contains(f.watermark)) KbStore.AnnNone
    else if (tv(f.watermark) >= tv(f.source)) KbStore.AnnCurrent
    else KbStore.AnnStale
  }

  /** Refuse to serve a family that is not current — silently-stale
    * answers are worse than an error. */
  private def requireCurrent(f: KbStore.IndexFamily,
      staleHint: String = "to catch it up"): Unit = {
    val s = indexState(f)
    require(s == KbStore.AnnCurrent,
      if (s == KbStore.AnnStale)
        s"${f.words} is stale: call refresh${f.name}Index() $staleHint"
      else s"no ${f.words}: call build${f.name}Index()")
  }

  private def refreshIfStale(f: KbStore.IndexFamily): Unit =
    if (indexState(f) == KbStore.AnnStale) f.refresh(this)

  /** Catch every stale family up, in [[KbStore.IndexFamily.All]]'s order;
    * families that were never built stay absent. */
  private[graft] def refreshStaleIndexes(): Unit =
    KbStore.IndexFamily.All.foreach(refreshIfStale)

  /** The shared head of every `refresh*Index`: a current family is a
    * no-op and a missing one throws. A stale one gets the source rows it
    * missed as `(key, payload)` rows to (re-)index plus the keys whose
    * index rows must tombstone, and `apply` encodes and commits them.
    *
    * The changed rows come from [[changedSince]]'s segment route when
    * the manifests prove it exact — O(batch) IO, no corpus scan — and
    * from the full keyed diff ([[fullDiffWithReadds]]) otherwise. A
    * window without deletes yields no tombstones, so the refresh stages
    * no del segment.
    */
  private def refreshFamily(f: KbStore.IndexFamily)(
      apply: (DataFrame, Option[DataFrame]) => Unit): Unit = {
    lastRefreshRoute = None
    indexState(f) match {
      case KbStore.AnnCurrent => ()
      case KbStore.AnnNone => throw new IllegalStateException(
        s"no ${f.words} to refresh — call build${f.name}Index()")
      case KbStore.AnnStale =>
        def project(rows: DataFrame) =
          rows.select(col("id").as(f.key), col(f.payload))
        val window =
          changedSince(f.source, metaCache.table_versions(f.watermark))
        // engagement probe: RefreshFastPathSpec's parity tests are
        // vacuous if the fast path silently stops engaging (route parity
        // with the fallback is then parity with itself)
        lastRefreshRoute = Some(if (window.isDefined) "segment" else "full")
        window match {
          case Some((adds, dels)) =>
            apply(project(adds), dels.map(_.select(col("id").as(f.key))))
          case None =>
            val (nw, gone) = fullDiffWithReadds(project(read(f.source)),
              read(f.keyed).select(col(f.key)).distinct(), f.key, f.source)
            apply(nw, Some(gone))
        }
    }
  }

  /** Which route the most recent refresh resolved to:
    * Some("segment") = delta-chain fast path proved exact,
    * Some("full") = it fell back to the full keyed diff,
    * None = it had nothing to catch up (or no refresh ran yet). Test
    * probe; every refresh clears it first, so a no-op never reports the
    * route of the refresh before it.
    * Single writer: only refreshes write it and the store runs one
    * refresh at a time; `@volatile` makes a value written on an ingest
    * thread visible to the reading test thread. Refreshes of two
    * families racing on two threads would leave whichever wrote last. */
  @volatile private[graft] var lastRefreshRoute: Option[String] = None

  def annIndexState: KbStore.AnnState = indexState(KbStore.IndexFamily.Ann)

  /** Whether a CURRENT ANN index exists (a stale one never serves). */
  def hasAnnIndex: Boolean = annIndexState == KbStore.AnnCurrent

  /** Net rows added to / keys removed from `table` strictly after
    * manifest version `since`, derived from the delta-segment chain
    * alone — O(changed) IO with NO full-table scan and NO anti-join
    * over the corpus. The segment route is exact iff the table's
    * layout at `since` extends to the head's ([[extendsLayout]]: same
    * base, chain extended); anything else (a compaction, a full
    * rewrite, a vacuumed history file) returns None and the caller
    * falls back to the full keyed diff. `since` is a family's coverage
    * watermark (see [[KbStore.IndexFamily]]).
    *
    * This is what makes the per-batch index refreshes of a
    * continuously ingesting store O(batch): before round 13 every
    * refresh anti-joined the FULL data table against the FULL index
    * table just to find the handful of changed ids — at 100 TB that
    * is two corpus scans plus two corpus-sized exchanges per
    * micro-batch; the segment route reads exactly the delta files the
    * index missed.
    */
  private def changedSince(table: String, since: Long)
      : Option[(DataFrame, Option[DataFrame])] = {
    // measurement-only kill switch: lets ProfileRefreshPlans time the
    // refresh paths with the segment route DISABLED (forcing every
    // refresh onto the full keyed diff) so the O(corpus) → O(batch)
    // claim has a before/after on one tree. Announces itself once.
    if (sys.props.get("graft.kb.forceFullRefreshDiff").contains("true")) {
      if (KbStore.forceFullWarned.compareAndSet(false, true))
        System.err.println("[graft] warning: graft.kb.forceFullRefreshDiff " +
          "is set; every index refresh takes the full keyed diff")
      return None
    }
    val head = metaCache
    if (!head.table_versions.contains(table)) return None
    val old =
      if (since == head.version) head
      else scala.util.Try(metaAt(since)).getOrElse(return None)
    if (!old.table_versions.contains(table)) return None
    val (from, to) = (layoutOf(old, table), layoutOf(head, table))
    if (!extendsLayout(from, to)) return None
    val appended = to._2.drop(from._2.size)
    // plan-depth cap (r13 verdict item 6): the fold below builds one
    // left_anti + union operator pair PER segment, so Catalyst
    // analysis cost grows with the window length. The head chain is
    // already bounded by DeltaChainLimit's minor compaction (which
    // also breaks the startsWith proof and lands here as None), but
    // the cap is stated explicitly so raising the chain limit can
    // never hand the analyzer an unbounded plan: past it the full
    // keyed diff is cheaper than the plan itself.
    if (appended.size > KbStore.DeltaChainLimit) return None
    // the window's net change: a row added then deleted inside it nets
    // out of `adds`. No tombstones in the window: no del side, so a
    // refresh stages no empty del segment for every later read of its
    // chain to fold
    val (adds, dels) = foldPatches(table, baseSegment(table, to._1).limit(0),
      appended.map(published(table, _)))
    Some((adds, dels.map(_.distinct())))
  }

  /** Distinct keys of `table` rows tombstoned by any del segment in
    * the CURRENT head chain — the candidates for deleted-then-re-added
    * ids. Reads only the chain's (small) del files, never the base;
    * None when the chain holds no tombstones. */
  private def tombstonedKeysInChain(table: String): Option[DataFrame] = {
    val (base, chain) = layoutOf(metaCache, table)
    foldPatches(table, baseSegment(table, base).limit(0),
      chain.map(published(table, _)))._2.map(_.distinct())
  }

  /** The refresh fallbacks' full keyed diff, made re-add-aware (r13
    * verdict item 5): `live` is the data table projected to the index
    * key column `key` (plus payload columns), `storedKeys` the index
    * family's current key set. The plain diff —
    * new = live ∖ stored, gone = stored ∖ live — leaves the index's
    * STALE row in place for a key that was deleted and re-added
    * between the index version and now (it is in both sides), while
    * the segment route tombstones and re-indexes it; the two routes
    * then disagree and which one runs depends on compaction history.
    * Here any live key that also appears in the head chain's del
    * segments is re-indexed too (tombstone + fresh add in the same
    * patch — the updates-tombstone-before-re-adding shape the
    * read-side fold is built for). After a compaction the del history
    * is gone and only the post-compaction window is visible; for the
    * elided window the store-level invariants carry the proof instead:
    * doc/edge adds allocate fresh high-water ids, the only key-reusing
    * doc mutations (updateDocMeta, setDocEmbedding's doc patch) re-add
    * the SAME text so a surviving index row is never wrong, and
    * embeddings VECTOR REPLACEMENT drops the vector families outright
    * (`replacesVectors`) rather than leaving them stale.
    *
    * Returns (rows of `live` the index must (re-)ingest, keys whose
    * index rows must tombstone) — the two sides of each union are
    * disjoint by construction, so no distinct is needed. */
  private def fullDiffWithReadds(live: DataFrame, storedKeys: DataFrame,
      key: String, dataTable: String): (DataFrame, DataFrame) = {
    val liveKeys = live.select(col(key))
    val newBase = live.join(storedKeys, Seq(key), "left_anti")
    val goneBase = storedKeys.join(liveKeys, Seq(key), "left_anti")
    tombstonedKeysInChain(dataTable) match {
      case None => (newBase, goneBase)
      case Some(delKeys) =>
        val rk = delKeys.toDF(key) // chain keys carry the DATA table's
                                   // key name (e.g. "id") — rename
        val reIdx = live.join(rk, Seq(key), "left_semi")
          .join(storedKeys, Seq(key), "left_semi")
        (newBase.unionByName(reIdx),
          goneBase.unionByName(reIdx.select(col(key))))
    }
  }

  /** Catch a stale index up with the batch it missed: assignments of
    * deleted ids drop (semi join against the live embeddings), new ids
    * are assigned to the STORED centroids with the packed kernel, and
    * the merged inverted-list table commits — O(changed docs) work plus
    * one pass over the old assignment, no re-clustering. The "update
    * the index in batch" half of the index story; no-op when current,
    * error when no index survives (vector replacement requires
    * [[buildAnnIndex]]). Changed ids come from [[refreshFamily]].
    */
  def refreshAnnIndex(): Unit = refreshFamily(KbStore.IndexFamily.Ann) {
    (changed, removed) =>
      import graft.functions.FloatVecDot
      import graft.functions.FloatVecPack.floatVecPack
      // delta commit: tombstone assignments of deleted ids, append
      // assignments of new ids — write volume O(changed), not O(index)
      val packedCents = ivfCentroids()
        .map { case (cid, cv) => (cid, FloatVecDot.pack(cv.map(_.toFloat))) }
        .toDF("cid", "cvec")
      val added = graft.ops.SimilaritySearch.ivfAssignPacked(
        changed.select($"vec_id".as("id"), floatVecPack($"vec").as("vec")),
        packedCents)
      publish(Map(KbStore.IvfAssignTable ->
        KbStore.TablePatch(del = removed, add = Some(added))), identity,
        readSet = Set("embeddings", KbStore.IvfCentroidsTable))
  }

  /** Build (or rebuild) the persistent IVF index as store tables:
    * centroids seeded deterministically (smallest md5-of-id corpus
    * vectors), refined with spherical k-means, every embedding assigned
    * to its inverted list by the zero-shuffle broadcast argmax. The two
    * tables commit atomically like any other table and version with the
    * manifest; a later embeddings commit invalidates them.
    */
  def buildAnnIndex(nlist: Int = 64, iters: Int = 2,
      packedPathAbove: Long = 100000L): Unit = {
    import spark.implicits._
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val emb = embeddings.toDF()
      .select($"id".as("vec_id"), $"vec".as("embedding"))
    val total = emb.count()
    require(total > 0, "cannot build an ANN index over an empty store")
    val k = math.max(1, math.min(nlist.toLong, total).toInt)
    val declarative = total <= packedPathAbove
    // the seeds, every k-means pass and the assignment each scan the
    // vectors: read them once, for this build only
    val input = (if (declarative) emb
      else emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (centsDf, assign) =
        if (declarative) {
          // declarative array path: fine while every k-means pass is cheap
          val seeds = input
            .select($"vec_id", $"embedding",
              md5(concat(lit("ivf:"), $"vec_id")).as("h"))
            .orderBy($"h").limit(k).collect()
          val cents0 = seeds.zipWithIndex.map { case (r, i) =>
            (i.toLong, r.getSeq[Float](1).map(_.toDouble))
          }.toSeq.toDF("cid", "cvec")
          val cents = graft.ops.SimilaritySearch
            .kmeansCentroids(input, cents0, iters)
          (cents,
            graft.ops.SimilaritySearch.ivfAssign(input, cents)
              .select($"vec_id", $"cid"))
        } else {
          // packed path: the per-partition primitive kernels that hold
          // at 1M × d1536 (see SimilaritySearch ivfAssignPacked /
          // kmeansCentroidsPacked)
          val seeds = input
            .select($"id", $"vec", md5(concat(lit("ivf:"), $"id")).as("h"))
            .orderBy($"h").limit(k).collect()
            .zipWithIndex.map { case (r, i) =>
              (i.toLong, FloatVecDot.unpack(r.getAs[Array[Byte]](1)))
            }
          val cents = graft.ops.SimilaritySearch
            .kmeansCentroidsPacked(input, seeds, iters)
          val centsPackedDf = cents.toSeq
            .map { case (cid, v) => (cid, FloatVecDot.pack(v)) }
            .toDF("cid", "cvec")
          val centsStored = cents.toSeq
            .map { case (cid, v) => (cid, v.map(_.toDouble).toSeq) }
            .toDF("cid", "cvec")
          (centsStored,
            graft.ops.SimilaritySearch.ivfAssignPacked(input, centsPackedDf))
        }
      publish(
        Map(KbStore.IvfCentroidsTable -> KbStore.Rewrite(centsDf),
          KbStore.IvfAssignTable -> KbStore.Rewrite(assign)),
        identity, readSet = Set("embeddings"))
    } finally input.unpersist(blocking = false)
  }

  /** ANN retrieval through the persistent index: embed the query, probe
    * the `nProbe` closest inverted lists, score only their members, join
    * docs back. `nProbe = nlist` degenerates to exact retrieval.
    * Refuses when no current index exists (build or rebuild first) —
    * silently-stale answers are worse than an error.
    *
    * Probe path (round 6): centroid selection is a driver-side loop
    * over the (tiny, nlist-row) centroid table; candidate scoring goes
    * through packed vectors + the codegen'd [[graft.functions
    * .FloatVecDot]] kernel — the shape [[sqRetrieve]] uses — instead of
    * the interpreted higher-order array expressions of
    * [[graft.ops.SimilaritySearch.ivfTopK]] (which stays as the
    * oracle-parity twin; both accumulate double(f32)·double(f32)
    * sequentially, so results are bit-identical — a spec asserts it).
    *
    * Two routes, one answer. While the assignment table is resident
    * (see the class doc) and [[index]] holds its blocks on the driver,
    * the probed lists' members come from the resident assignment and
    * [[graft.ops.VectorIndex.scoreLocal]] scores them with the same
    * kernel lane scheme as `FloatVecDot`, skipping ids the index does
    * not hold (the inner join's rule): a warm call runs no Spark job.
    * Otherwise the assignment ⨝ embeddings join below runs. On both,
    * a score is the f64 dot rounded like Spark's `round(·, 6)` (HALF_UP
    * on the double's decimal form), NaN scores drop, and hits order by
    * (score desc, vec_id asc).
    */
  def annRetrieve(query: String, n: Int, provider: EmbeddingProvider,
      nProbe: Int = 8): Seq[Retrieval] = {
    requireCurrent(KbStore.IndexFamily.Ann)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val qv = Embeddings.checkMagnitude(provider.embed(Seq(query))).head
    val probed = ivfProbeCids(qv, nProbe)
    if (probed.isEmpty) return Seq.empty
    val localIdx = ivfLists().flatMap(l => index().filter(_.isLocal).map(l -> _))
    val hits = localIdx match {
      case Some((lists, idx)) =>
        graft.ops.SimilaritySearch.topKRound6(
          idx.scoreLocal(lists.members(probed), qv), n)
      case None =>
        val packed = embeddings.toDF()
          .select($"id".as("vec_id"), floatVecPack($"vec").as("pv"))
        read(KbStore.IvfAssignTable)
          .where($"cid".isin(probed: _*))
          .join(packed, "vec_id")
          .select($"vec_id",
            round(floatVecDot($"pv", lit(FloatVecDot.pack(qv))), 6).as("score"))
          .where(!isnan($"score")) // NaN would sort above every real score
          .orderBy(desc("score"), $"vec_id")
          .limit(n)
          .as[(Long, Double)].collect()
    }
    hydrate(hits)
  }

  /** Probe selection against the persisted centroid table: same
    * sequential double fold and (score desc, cid asc) tie order as
    * ivfTopK's probe subquery. `+ 0.0` canonicalizes -0.0 to +0.0:
    * Scala's total Double order ranks -0.0 < 0.0, while the SQL twin
    * treats them as equal and tie-breaks on cid — parity requires the
    * same here.
    */
  private def ivfProbeCids(qv: Array[Float], nProbe: Int): Seq[Long] =
    ivfCentroids()
      .map { case (cid, cv) =>
        var acc = 0.0
        var i = 0
        while (i < cv.length && i < qv.length) {
          acc += cv(i) * qv(i).toDouble; i += 1
        }
        (cid, acc + 0.0)
      }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(nProbe).map(_._1)

  /** [[annRetrieve]] under a document predicate — filtered vector
    * search through the persisted IVF family (the reference's callers
    * post-filter retrieve() results in Python; a filtered corpus query
    * belongs INSIDE the probe so the dot kernel never runs on excluded
    * rows). `pred` is a Column over the docs table's columns (level,
    * parent_id, meta JSON via get_json_object, …); docs matching it
    * are semi-joined onto the probed inverted lists BEFORE scoring, so
    * per-call cost is probe ranking + selectivity × probed-list size.
    * Approximate exactly like [[annRetrieve]] (unprobed lists are
    * unseen); `nProbe = nlist` is exact — equivalence with
    * post-filtering the full-probe retrieval is spec-pinned.
    */
  def annRetrieveFiltered(query: String, n: Int,
      provider: EmbeddingProvider,
      pred: org.apache.spark.sql.Column, nProbe: Int = 8): Seq[Retrieval] = {
    requireCurrent(KbStore.IndexFamily.Ann)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val qv = Embeddings.checkMagnitude(provider.embed(Seq(query))).head
    val probed = ivfProbeCids(qv, nProbe)
    if (probed.isEmpty) return Seq.empty
    val allowed = docs.toDF().where(pred)
      .where($"emb_id".isNotNull)
      .select($"emb_id".as("vec_id"))
    val packed = embeddings.toDF()
      .select($"id".as("vec_id"), floatVecPack($"vec").as("pv"))
    val hits = read(KbStore.IvfAssignTable)
      .where($"cid".isin(probed: _*))
      .join(allowed, "vec_id") // predicate before the dot kernel
      .join(packed, "vec_id")
      .select($"vec_id",
        round(floatVecDot($"pv", lit(FloatVecDot.pack(qv))), 6).as("score"))
      .where(!isnan($"score"))
      .orderBy(desc("score"), $"vec_id")
      .limit(n)
      .as[(Long, Double)].collect()
    hydrate(hits)
  }

  /** Batch k-NN JOIN against the persisted ANN index: every row of
    * `queries` (`id LONG, vec ARRAY<FLOAT>` unit-norm) gets its top-k
    * neighbors among the store's embedded documents, probing the
    * STORED assignment table — per-call cost is probe ranking +
    * candidate scoring + bounded heaps; the corpus-wide assignment
    * pass is index maintenance, amortized across calls (the
    * deployment shape `svs_knn_join_indexed_1m` measures by hand).
    * `nProbe >= nlist` degenerates to the exact join. Output:
    * (qid, vec_id, score, rk), score rounded to 6 decimals, ties
    * (score desc, vec_id asc).
    */
  def knnJoin(queries: DataFrame, k: Int, nProbe: Int = 8): DataFrame = {
    requireCurrent(KbStore.IndexFamily.Ann)
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val centsDf = read(KbStore.IvfCentroidsTable)
      .select(col("cid"),
        floatVecPack(col("cvec").cast("array<float>")).as("cvec"))
    val packedEmb = embeddings.toDF()
      .select($"id".as("cand_id"), floatVecPack($"vec").as("cv"))
    val assigned = read(KbStore.IvfAssignTable)
      .join(packedEmb, col("vec_id") === col("cand_id"))
      .select(col("cid").as("ccid"), col("cand_id"), col("cv"))
    val packedQ = queries.select(col("id"),
      floatVecPack(col("vec")).as("vec"))
    graft.ops.SimilaritySearch.knnJoinIvfAssigned(
        packedQ, assigned, centsDf, k, nProbe)
      .withColumnRenamed("cid", "vec_id")
  }

  // ------------------------------------------------------------------
  // persistent int8 compressed tier (SURVEY §7.5 round 5): the same
  // manifest lifecycle as the ANN index, over 4×-smaller scalar-
  // quantized codes — the scan tier that keeps a 100 TB corpus in 1/4
  // the memory, re-ranked exactly against the raw vectors
  // ------------------------------------------------------------------
  def sqIndexState: KbStore.AnnState = indexState(KbStore.IndexFamily.Sq)

  def hasSqIndex: Boolean = sqIndexState == KbStore.AnnCurrent

  /** Quantize every embedding to int8 codes + per-vector scale and
    * commit the codes table (one narrow encode pass; commits atomically
    * and versions with the manifest like any table).
    */
  def buildSqIndex(): Unit = {
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    require(embeddings.toDF().limit(1).count() > 0,
      "cannot build a compressed tier over an empty store")
    val packed = embeddings.toDF()
      .select($"id", floatVecPack($"vec").as("vec"))
    publish(Map(KbStore.SqCodesTable -> KbStore.Rewrite(
      graft.ops.VectorQuant.sqEncodePacked(packed)
        .withColumnRenamed("id", "vec_id"))), identity,
      readSet = Set("embeddings"))
  }

  /** Incremental catch-up, mirroring [[refreshAnnIndex]]: deleted ids
    * tombstone, new ids encode fresh and append — since round 6's
    * delta commits both the ENCODE work and the WRITE volume are
    * O(changed docs).
    */
  def refreshSqIndex(): Unit = refreshFamily(KbStore.IndexFamily.Sq) {
    (changed, removed) =>
      import graft.functions.FloatVecPack.floatVecPack
      val added = graft.ops.VectorQuant.sqEncodePacked(
          changed.select($"vec_id".as("id"), floatVecPack($"vec").as("vec")))
        .withColumnRenamed("id", "vec_id")
      // ENCODE work was already O(changed); the delta commit makes the
      // WRITE O(changed) too (the r5 verdict's remaining disclosure)
      publish(Map(KbStore.SqCodesTable ->
        KbStore.TablePatch(del = removed, add = Some(added))), identity,
        readSet = Set("embeddings"))
  }

  /** Retrieval through the compressed tier: the int8 codegen'd scan
    * ranks the whole corpus in 1/4 the bytes, the top `rerank`
    * candidates re-rank exactly against the raw vectors (broadcast
    * semi-join — the full-precision corpus is only touched for the
    * candidates). `rerank >= corpus size` degenerates to exact
    * retrieval. Refuses when not current, like [[annRetrieve]].
    */
  def sqRetrieve(query: String, n: Int, provider: EmbeddingProvider,
      rerank: Int = 100): Seq[Retrieval] = {
    requireCurrent(KbStore.IndexFamily.Sq)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    import graft.functions.{FloatVecDot, Int8VecDot}
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val qv = Embeddings.checkMagnitude(provider.embed(Seq(query))).head
    val (qCode, qScale) = Int8VecDot.quantize(qv)
    val candIds = graft.ops.VectorQuant.sqTopKPacked(
        read(KbStore.SqCodesTable).withColumnRenamed("vec_id", "id"),
        qCode, qScale, math.max(n, rerank))
      .select($"vec_id")
    val packed = embeddings.toDF()
      .select($"id", floatVecPack($"vec").as("vec"))
    val hits = packed
      .join(broadcast(candIds), packed("id") === candIds("vec_id"))
      .select($"id",
        round(floatVecDot($"vec", lit(FloatVecDot.pack(qv))), 6).as("score"))
      // a stored vector with NaN components passes checkMagnitude (NaN
      // comparisons are all false) yet scores NaN here, and NaN sorts
      // ABOVE every real double descending — drop it from the ranking,
      // matching VectorQuant.exactRerank
      .where(!isnan($"score"))
      .orderBy(desc("score"), $"id")
      .limit(n)
      .as[(Long, Double)].collect()
    hydrate(hits)
  }

  // ------------------------------------------------------------------
  // persistent IVF-PQ index (round 6): coarse inverted lists + PQ on
  // residuals as a FOURTH manifest-managed family — the 64×-compressed
  // tier for corpora whose raw vectors (and even int8 codes) no longer
  // fit the memory budget (Jégou et al. 2011)
  // ------------------------------------------------------------------
  def pqIndexState: KbStore.AnnState = indexState(KbStore.IndexFamily.Pq)

  def hasPqIndex: Boolean = pqIndexState == KbStore.AnnCurrent

  /** Build (or rebuild) the IVF-PQ tier: deterministic-seeded packed
    * k-means for the coarse centroids, residual codebook training, and
    * per-vector (cid, code) rows — three tables committed atomically.
    * `m` must divide the embedding dimension. `bucketCodes = true`
    * additionally materializes the cid-bucketed mirror
    * ([[bucketPqCodes]]) so [[pqKnnJoin]] gets the exchange-free
    * AdcCodesJoin path from the first call.
    */
  def buildPqIndex(nlist: Int = 64, m: Int = 8, ncodes: Int = 256,
      iters: Int = 2, sampleMod: Int = 1,
      bucketCodes: Boolean = false, buckets: Int = 32): Unit = {
    import spark.implicits._
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val packed = embeddings.toDF()
      .select($"id", floatVecPack($"vec").as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val total = packed.count()
      require(total > 0, "cannot build an IVF-PQ index over an empty store")
      val k = math.max(1, math.min(nlist.toLong, total).toInt)
      val seeds = packed
        .select($"id", $"vec", md5(concat(lit("ivfpq:"), $"id")).as("h"))
        .orderBy($"h").limit(k).collect()
        .zipWithIndex.map { case (r, i) =>
          (i.toLong, FloatVecDot.unpack(r.getAs[Array[Byte]](1)))
        }
      val cents = graft.ops.SimilaritySearch
        .kmeansCentroidsPacked(packed, seeds, iters)
      val res = graft.ops.VectorQuant.ivfResiduals(packed, cents.toArray)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val books = graft.ops.VectorQuant.pqTrain(
          res.select($"id", $"rvec".as("vec")), m, ncodes, sampleMod, iters)
        val codes = graft.ops.VectorQuant.ivfPqEncode(res, books)
          .withColumnRenamed("id", "vec_id")
        val centsDf = cents.toSeq
          .map { case (cid, v) => (cid, v.map(_.toDouble).toSeq) }
          .toDF("cid", "cvec")
        val booksDf = books.zipWithIndex.flatMap { case (sub, s) =>
          sub.zipWithIndex.map { case (cv, c) =>
            (s, c, cv.map(_.toDouble).toSeq) }
        }.toSeq.toDF("s", "c", "v")
        publish(
          Map(KbStore.IvfPqCentroidsTable -> KbStore.Rewrite(centsDf),
            KbStore.IvfPqBooksTable -> KbStore.Rewrite(booksDf),
            KbStore.IvfPqCodesTable -> KbStore.Rewrite(codes)),
          identity, readSet = Set("embeddings"))
      } finally res.unpersist(blocking = false)
    } finally packed.unpersist(blocking = false)
    if (bucketCodes) bucketPqCodes(buckets)
  }

  private def loadPqCents(): Array[(Long, Array[Float])] =
    read(KbStore.IvfPqCentroidsTable).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(_.toFloat).toArray))
      .sortBy(_._1)

  private def loadPqBooks(): graft.ops.VectorQuant.Codebooks = {
    val rows = read(KbStore.IvfPqBooksTable).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).map(_.toFloat).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m)(s => rows.filter(_._1 == s).sortBy(_._2).map(_._3))
  }

  /** Incremental catch-up like the other families: tombstone codes of
    * deleted ids, residual-assign + encode new ids against the STORED
    * centroids and codebooks — encode AND write are O(changed docs).
    */
  def refreshPqIndex(): Unit = refreshFamily(KbStore.IndexFamily.Pq) {
    (changed, removed) =>
      import graft.functions.FloatVecPack.floatVecPack
      val added = graft.ops.VectorQuant.ivfPqEncode(
          graft.ops.VectorQuant.ivfResiduals(
            changed.select($"vec_id".as("id"), floatVecPack($"vec").as("vec")),
            loadPqCents()),
          loadPqBooks())
        .withColumnRenamed("id", "vec_id")
      // mirror maintenance prep (before the commit moves the head):
      // the shards a sharded mirror must rewrite are those containing
      // any added or removed row's list id, looked up in the pre-commit
      // codes behind a join with the removed keys (never anti-joined
      // against the corpus)
      val marker = readBucketMarker()
      val changedPps: Seq[Long] = marker match {
        case Some((_, _, parts, _)) if parts > 0 =>
          val old = read(KbStore.IvfPqCodesTable)
          removed.foldLeft(added.select($"cid"))((cids, r) =>
            cids.union(old.join(r, Seq("vec_id")).select($"cid")))
            .select(pmod($"cid", lit(parts.toLong)).as("pp"))
            .distinct().as[Long].collect().toSeq
        case _ => Nil
      }
      val preCodesVersion =
        metaCache.table_versions.get(KbStore.IvfPqCodesTable)
      publish(Map(KbStore.IvfPqCodesTable ->
        KbStore.TablePatch(del = removed, add = Some(added))), identity,
        readSet = Set("embeddings", KbStore.IvfPqCentroidsTable,
          KbStore.IvfPqBooksTable))
      // keep the bucketed mirror current when one was materialized. A
      // SHARDED mirror (parts > 0) rewrites only the changed shards —
      // O(changed lists), the same order as the delta commit itself —
      // unless more than half the shards moved, where the full rewrite
      // is the same volume with less bookkeeping. The sharded fast path
      // additionally requires the marker to have named exactly the
      // PRE-commit codes version: a mirror that had already missed an
      // update (crash between the delta publish and the marker write, or a
      // rebuild without bucketCodes) has unchanged shards that are
      // older than this delta — promoting it after rewriting only this
      // delta's shards would serve those stale rows as current. Such a
      // mirror gets the full rebuild instead, preserving its layout
      // (parts = 0 stays unpartitioned — writeCodesBucketed handles
      // it). While this runs the marker still names the pre-commit
      // version, so a concurrent pqKnnJoin falls back to the plain
      // kernel rather than reading a half-maintained mirror; the
      // marker flips only at the end.
      marker.foreach { case (tbl, b, parts, mv) =>
        if (parts > 0 && preCodesVersion.contains(mv) &&
            changedPps.size <= parts / 2 &&
            ensureMirrorRegistered(tbl, b, parts)) {
          graft.ops.VectorQuant.overwriteCodeShards(
            read(KbStore.IvfPqCodesTable).withColumnRenamed("vec_id", "id"),
            tbl, parts, changedPps)
          writeBucketMarker(tbl, b, parts,
            metaCache.table_versions(KbStore.IvfPqCodesTable))
        } else bucketPqCodes(b, parts)
      }
  }

  /** Retrieval through the IVF-PQ tier: ADC over the probed lists'
    * 1-byte-per-subspace codes, exact re-rank of the top `rerank`
    * candidates against the raw vectors, docs joined back.
    * `nProbe = nlist` with `rerank >= corpus` degenerates to exact
    * retrieval. Refuses when not current, like the other tiers.
    */
  def pqRetrieve(query: String, n: Int, provider: EmbeddingProvider,
      nProbe: Int = 8, rerank: Int = 100): Seq[Retrieval] = {
    requireCurrent(KbStore.IndexFamily.Pq)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val qv = Embeddings.checkMagnitude(provider.embed(Seq(query))).head
    val codes = read(KbStore.IvfPqCodesTable)
      .withColumnRenamed("vec_id", "id")
    val packed = embeddings.toDF()
      .select($"id", floatVecPack($"vec").as("vec"))
    val hits = graft.ops.VectorQuant.ivfPqTopKRefined(
        codes, packed, loadPqCents(), loadPqBooks(), qv,
        n, nProbe, math.max(n, rerank))
      .as[(Long, Double)].collect()
    hydrate(hits)
  }

  // ------------------------------------------------------------------
  // cid-bucketed codes mirror (round 8): a DERIVED catalog-table layout
  // of ivfpq_codes whose HashPartitioning(cid) the custom
  // plans/AdcCodesJoin operator accepts exchange-free — so store-level
  // compressed knn joins shuffle only the probe rows per call. The
  // manifest-managed ivfpq_codes table stays the source of truth; the
  // mirror carries the codes version it reflects in a sidecar marker
  // and is never served stale (version mismatch falls back to the
  // plain-kernel join).
  // ------------------------------------------------------------------
  private def bucketedCodesTableName: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    "graft_pq_codes_" + md.take(6).map("%02x".format(_)).mkString
  }

  private def bucketMarkerPath = Paths.get(s"$path/_pq_codes_bucketed.json")

  /** The mirror's parquet files live INSIDE the store directory (an
    * EXTERNAL table), not the session warehouse: the layout is store
    * state, paid for once per index build, and must survive the
    * session that happened to materialize it. (Vacuum's orphan sweep
    * ignores this dir — it is neither an index-table name nor a
    * v<N>-versioned layout — and reclaims it explicitly with the
    * marker when the mirror goes stale.) */
  private def bucketedCodesDataPath = s"$path/_pq_codes_data"

  private def writeBucketMarker(table: String, buckets: Int, parts: Int,
      codesVersion: Long): Unit = {
    val tmp = Paths.get(bucketMarkerPath.toString + ".tmp")
    Files.writeString(tmp,
      s"""{"table": "$table", "buckets": $buckets, "parts": $parts, "codes_version": $codesVersion}""")
    Files.move(tmp, bucketMarkerPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (table, buckets, parts, codes_version) of the materialized mirror,
    * if any. `parts` > 0 means the mirror is additionally
    * directory-sharded by `pmod(cid, parts)` and maintains
    * incrementally. */
  private def readBucketMarker(): Option[(String, Int, Int, Long)] = {
    if (!Files.exists(bucketMarkerPath)) return None
    val s = Files.readString(bucketMarkerPath)
    val re = """"table"\s*:\s*"([^"]+)".*"buckets"\s*:\s*(\d+).*"parts"\s*:\s*(\d+).*"codes_version"\s*:\s*(\d+)""".r
    re.findFirstMatchIn(s).map(m =>
      (m.group(1), m.group(2).toInt, m.group(3).toInt, m.group(4).toLong))
  }

  /** Materialize (or refresh) the bucketed mirror of the current codes
    * table. O(codes) — a layout rewrite, 96 B/vector, so ~1.5 TB at a
    * 100 TB raw corpus: the cost a deployment pays once per index
    * build/refresh to make every subsequent [[pqKnnJoin]] call
    * codes-exchange-free. Requires a current IVF-PQ tier.
    */
  def bucketPqCodes(buckets: Int = 32, parts: Int = 64): Unit = {
    requireCurrent(KbStore.IndexFamily.Pq, "before bucketing")
    val tbl = bucketedCodesTableName
    // A compact that found a stale marker drops the CATALOG entry but
    // leaves the external _pq_codes_data files for vacuum (a reader may
    // overlap a compact). A rebuild into that orphaned non-empty
    // location would be a CTAS into a non-empty external dir — throws
    // under Spark's default allowNonEmptyLocationInCTAS=false, and with
    // the legacy flag set would silently mix the stale files into the
    // new mirror. Clear the orphans first: the rebuild replaces the
    // mirror's files under the pre-existing overwrite contract, so this
    // adds no reader hazard a catalog-tracked rebuild doesn't have.
    if (!spark.catalog.tableExists(tbl))
      try deleteDir(Paths.get(bucketedCodesDataPath))
      catch { case _: java.io.IOException => () }
    val codes = read(KbStore.IvfPqCodesTable).withColumnRenamed("vec_id", "id")
    graft.ops.VectorQuant.writeCodesBucketed(codes, tbl, buckets, parts,
      location = Some(bucketedCodesDataPath))
    writeBucketMarker(tbl, buckets, parts,
      metaCache.table_versions(KbStore.IvfPqCodesTable))
  }

  /** Catalog registration survives sessions by re-declaration, not by
    * rewrite: when the marker names the current codes version but this
    * session's (in-memory) catalog has never heard of the table — a
    * fresh session opening a store whose mirror a PRIOR session built —
    * the existing external files are re-registered as a bucketed table
    * (CREATE TABLE ... CLUSTERED BY, plus partition recovery for a
    * sharded layout). O(metadata), not O(codes): "pay the layout once
    * per build" holds across sessions. Returns whether the table is
    * usable afterwards.
    */
  private def ensureMirrorRegistered(tbl: String, buckets: Int,
      parts: Int): Boolean = {
    if (spark.catalog.tableExists(tbl)) return true
    val dir = Paths.get(bucketedCodesDataPath)
    if (!Files.isDirectory(dir)) return false // pre-external-layout marker
    try {
      val ppCol = if (parts > 0) ", pp BIGINT" else ""
      val partBy = if (parts > 0) "PARTITIONED BY (pp) " else ""
      spark.sql(
        s"CREATE TABLE $tbl (cid BIGINT, id BIGINT, code BINARY$ppCol) " +
          s"USING parquet $partBy" +
          s"CLUSTERED BY (cid) INTO $buckets BUCKETS " +
          s"LOCATION '${dir.toUri}'")
      if (parts > 0) spark.sql(s"MSCK REPAIR TABLE $tbl")
      true
    } catch { case e: Exception =>
      // two sessions racing the CREATE TABLE: the loser's exception does
      // not mean the table is unusable — the winner just registered it.
      // Re-check before conceding, so the loser serves the bucketed path
      // instead of silently falling back to the plain kernel. But
      // table-exists alone is NOT usable for a partitioned layout: if
      // our own MSCK threw after CREATE succeeded, or the racing winner
      // created the table and hasn't finished ITS repair yet, the
      // external table has zero registered partitions and the bucketed
      // path would silently serve empty results — the one failure mode
      // worse than the slow fallback. MSCK REPAIR is idempotent, so the
      // re-check path runs it unconditionally and only vouches for the
      // table if the repair lands too.
      val nowExists =
        try spark.catalog.tableExists(tbl) catch { case _: Exception => false }
      val usable = nowExists && (parts == 0 ||
        (try { spark.sql(s"MSCK REPAIR TABLE $tbl"); true }
         catch { case _: Exception => false }))
      if (!usable)
        Console.err.println(
          s"[graft] bucketed-mirror re-registration of $tbl failed: $e")
      usable
    }
  }

  /** The mirror table name iff it exists (or can be re-registered from
    * its external files) and reflects exactly the current codes
    * version — anything else (never built, store mutated since) is
    * None and callers fall back. */
  private def currentBucketedCodesTable: Option[String] =
    readBucketMarker().flatMap { case (tbl, b, parts, v) =>
      if (metaCache.table_versions.get(KbStore.IvfPqCodesTable).contains(v)
          && ensureMirrorRegistered(tbl, b, parts)) Some(tbl)
      else None
    }

  /** Batch compressed k-NN JOIN against the persisted IVF-PQ tier:
    * every row of `queries` (`id LONG, vec ARRAY<FLOAT>` unit-norm)
    * gets its top-k neighbors, ADC-prefiltered through the 96-byte
    * codes and exactly re-ranked against the raw vectors — the
    * compressed twin of [[knnJoin]]. When the bucketed mirror is
    * current ([[bucketPqCodes]]), the join routes through the custom
    * AdcCodesJoin operator and the codes side enters the kernel
    * WITHOUT an exchange; otherwise the plain tagged-union kernel
    * runs on the manifest codes table. Results are identical either
    * way (OpsSpec pins parity; the k3 oracle pins the kernel).
    * Output: (qid, vec_id, score, rk), score rounded to 6 decimals.
    */
  def pqKnnJoin(queries: DataFrame, k: Int, nProbe: Int = 8,
      rerank: Int = 100): DataFrame = {
    requireCurrent(KbStore.IndexFamily.Pq)
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val cents = loadPqCents()
    val books = loadPqBooks()
    val packedQ = queries.select(col("id"), floatVecPack(col("vec")).as("vec"))
    val packedEmb = embeddings.toDF()
      .select($"id", floatVecPack($"vec").as("vec"))
    val sel = math.max(k, rerank)
    val joined = currentBucketedCodesTable match {
      case Some(tbl) =>
        graft.ops.VectorQuant.knnJoinIvfPqBucketed(packedQ, tbl, cents,
          books, packedEmb, k, nProbe, sel)
      case None =>
        val codes = read(KbStore.IvfPqCodesTable)
          .withColumnRenamed("vec_id", "id")
        graft.ops.VectorQuant.knnJoinIvfPq(packedQ, codes, cents,
          books, packedEmb, k, nProbe, sel)
    }
    joined.withColumnRenamed("cid", "vec_id")
  }

  // ------------------------------------------------------------------
  // persistent lexical (BM25) index: postings + doc lengths as a third
  // manifest-managed index family — full-text retrieval over the KB
  // ------------------------------------------------------------------
  /** Keyed on the DOCS table: text, not vectors, is what it indexes. */
  def textIndexState: KbStore.AnnState = indexState(KbStore.IndexFamily.Text)

  def hasTextIndex: Boolean = textIndexState == KbStore.AnnCurrent

  /** Tokenize every document into `(doc_id, term, tf)` postings plus
    * `(doc_id, dl)` lengths and commit both atomically — document
    * frequency and corpus stats re-derive from these at query time, so
    * the two tables alone refresh incrementally by doc id. At
    * deployment scale the postings table is the one to bucket by
    * `term`.
    *
    * `unicode = true` tokenizes with the letter/digit-run tokenizer
    * (real punctuated corpora); the choice persists in the manifest so
    * retrieval and refresh ALWAYS tokenize the way the index was built.
    */
  def buildTextIndex(unicode: Boolean = false): Unit = {
    import spark.implicits._
    require(docs.limit(1).count() > 0,
      "cannot build a text index over an empty store")
    val (postings, docLens) = graft.ops.TextRetrieval.buildIndex(
      docs.toDF().select($"id".as("doc_id"), $"text"), unicode = unicode)
    // postings persist PARTITIONED by a term-hash bucket: a query's
    // terms map to ≤|terms| buckets, so the retrieval scan is physical
    // partition pruning (1/64th of the postings per term), not a full
    // scan with a filter
    try publish(
      Map(KbStore.TextPostingsTable ->
          KbStore.Rewrite(KbStore.withTermBucket(postings)),
        KbStore.TextDocLensTable -> KbStore.Rewrite(docLens)),
      m => m.copy(index_params =
        m.index_params + ("text_unicode" -> unicode.toString)),
      readSet = Set("docs"))
    finally { // buildIndex caches both
      postings.unpersist(blocking = false)
      docLens.unpersist(blocking = false)
    }
  }

  /** The lexical tier's persisted tokenizer choice. */
  private def textIndexUnicode: Boolean =
    metaCache.index_params.get("text_unicode").contains("true")

  /** Incremental catch-up by doc id: postings/lengths of deleted docs
    * tombstone, new docs tokenize fresh and append — TOKENIZE work and
    * (since round 6's delta commits) WRITE volume are both O(changed
    * docs). Text is immutable per doc id in this store (updates touch
    * meta only), so surviving postings are never wrong, just possibly
    * incomplete.
    */
  def refreshTextIndex(): Unit = refreshFamily(KbStore.IndexFamily.Text) {
    (newDocs, goneIds) =>
      // tokenize the catch-up batch exactly as the original build did
      val (addPost, addLens) =
        graft.ops.TextRetrieval.buildIndex(newDocs, unicode = textIndexUnicode)
      // one tombstone set (the doc ids that left) covers both tables —
      // postings and lengths are keyed by doc_id; TOKENIZE work is
      // O(changed docs) and now the WRITE is too. New postings bucket
      // identically to the stored ones and the add segment persists
      // partitioned by bucket, so retrieval's partition pruning spans
      // base and deltas alike.
      try publish(Map(
        KbStore.TextPostingsTable -> KbStore.TablePatch(
          del = goneIds,
          add = Some(KbStore.withTermBucket(addPost))),
        KbStore.TextDocLensTable -> KbStore.TablePatch(
          del = goneIds, add = Some(addLens))),
        identity, readSet = Set("docs"))
      finally { // buildIndex caches both
        addPost.unpersist(blocking = false)
        addLens.unpersist(blocking = false)
      }
  }

  /** BM25 retrieval through the persistent postings: scores only the
    * query terms' posting rows (document frequencies and corpus stats
    * re-derive from the stored tables), then hydrates the doc rows.
    * Tokenization of the query matches the index build's.
    *
    * Two routes. While the postings and doc lengths are resident (see
    * the class doc), [[graft.ops.TextRetrieval.Postings.bm25TopK]]
    * scores on the driver and a warm call runs no Spark job; otherwise
    * [[graft.ops.TextRetrieval.bm25TopKIndexed]] runs over a
    * term-pruned scan. Both round scores HALF_UP to 6 dp, like Spark's
    * `round(·, 6)`, and order hits by (score desc, doc_id asc). They
    * agree exactly for queries of up to two terms; from three terms on,
    * the order in which a doc's per-term contributions are summed may
    * differ, by an ulp before rounding (see `bm25TopK`).
    */
  def bm25Retrieve(query: String, n: Int): Seq[(Double, Doc)] = {
    requireCurrent(KbStore.IndexFamily.Text)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    // tokenize the query with the tokenizer the index was BUILT with
    // (persisted in the manifest) — a mismatch silently misses postings
    val terms = graft.ops.TextRetrieval.tokenizeQuery(query, textIndexUnicode)
    if (terms.isEmpty) return Seq.empty
    val hits = textIndex() match {
      case Some((postings, lens)) => postings.bm25TopK(lens, terms, n)
      case None =>
        // bucket pruning BEFORE the term filter: the scan touches only
        // the query terms' partitions (PartitionFilters in the plan),
        // then the exact term filter applies within them
        val qBuckets = terms.map(KbStore.termBucketOf).distinct
        val postings = read(KbStore.TextPostingsTable)
          .where($"bucket".isin(qBuckets: _*))
        graft.ops.TextRetrieval.bm25TopKIndexed(
            postings, read(KbStore.TextDocLensTable), terms, n)
          .as[(Long, Double)].collect().toSeq
    }
    if (hits.isEmpty) return Seq.empty
    val byId = docsById(hits.map(_._1).toSeq)
    hits.toSeq.map { case (id, score) => (score, byId(id)) }
  }

  /** RM3 retrieval through the persistent postings — the
    * pseudo-relevance-feedback expansion rung above [[bm25Retrieve]]
    * (consumer #8 of the index lifecycle). Every postings scan stays
    * pruned: the feedback pass reads only the query terms' bucket
    * partitions, the relevance model reads only the broadcast feedback
    * docs' rows, and the weighted rescore reads only the EXPANDED term
    * set's buckets (the weight table is tiny — ≤ |query| + fbTerms
    * rows — so its buckets are known driver-side before the scan).
    */
  def rm3Retrieve(query: String, n: Int, fbDocs: Int = 10,
      fbTerms: Int = 10, alpha: Double = 0.5): Seq[(Double, Doc)] = {
    requireCurrent(KbStore.IndexFamily.Text)
    if (n <= 0) return Seq.empty
    import spark.implicits._
    val terms = graft.ops.TextRetrieval.tokenizeQuery(query, textIndexUnicode)
    if (terms.isEmpty) return Seq.empty
    val docLens = read(KbStore.TextDocLensTable)
    val allPost = read(KbStore.TextPostingsTable)
    val qBuckets = terms.map(KbStore.termBucketOf).distinct
    val weights = graft.ops.TextRetrieval.rm3TermWeights(
        allPost, docLens, terms, fbDocs, fbTerms, alpha,
        fbPostings = Some(allPost.where($"bucket".isin(qBuckets: _*))))
      .as[(String, Double)].collect()
    if (weights.isEmpty) return Seq.empty
    val wBuckets = weights.map(t => KbStore.termBucketOf(t._1)).distinct
    val hits = graft.ops.TextRetrieval.bm25TopKWeighted(
        allPost.where($"bucket".isin(wBuckets.toSeq: _*)), docLens,
        weights.toSeq.toDF("term", "w"), n)
      .as[(Long, Double)].collect()
    if (hits.isEmpty) return Seq.empty
    val byId = docsById(hits.map(_._1).toSeq)
    hits.toSeq.map { case (id, score) => (score, byId(id)) }
  }

  // ------------------------------------------------------------------
  // persistent dedup-signature index: MinHash LSH band keys as a FIFTH
  // manifest-managed index family — cross-snapshot incremental dedup.
  // A 100 TB deployment deduplicates NEW INGEST against the archive;
  // re-mining archive×archive per batch is O(corpus) every time. With
  // the archive's band keys persisted (same stale/refresh/vacuum
  // lifecycle as the ANN/SQ/PQ/text families), banding a new batch is
  // O(batch + matched bands): one equi-join of the batch's bands
  // against the stored table.
  // ------------------------------------------------------------------
  /** Dedup-tier lifecycle: keyed on the DOCS table like the lexical
    * family (signatures derive from text, and text is immutable per
    * doc id here — surviving bands are never wrong, just possibly
    * incomplete).
    */
  def dedupIndexState: KbStore.AnnState = indexState(KbStore.IndexFamily.Dedup)

  def hasDedupIndex: Boolean = dedupIndexState == KbStore.AnnCurrent

  /** The persisted band table `(doc_id, band, key)` — band = -1 rows
    * are coverage sentinels for docs too short to shingle. */
  def dedupBands: DataFrame = read(KbStore.DedupBandsTable)

  /** The persisted MinHash parameters — refresh and query-time banding
    * MUST hash exactly the way the index was built. */
  private def dedupParams: (Int, Int, Int, Boolean) = {
    val p = metaCache.index_params
    (p.getOrElse("dedup_k", "3").toInt,
      p.getOrElse("dedup_num_hashes", "8").toInt,
      p.getOrElse("dedup_rows_per_band", "2").toInt,
      p.get("dedup_unicode").contains("true"))
  }

  /** (doc_id, band, key) rows for a doc batch, plus one sentinel row
    * (band = -1) for each doc too short to shingle — the sentinel is
    * what lets [[refreshDedupIndex]] tell "processed, no bands" from
    * "never seen" without a second bookkeeping table. Query paths
    * filter `band >= 0`.
    */
  private def dedupBandsFor(d: DataFrame, k: Int, numHashes: Int,
      rowsPerBand: Int, unicode: Boolean): DataFrame = {
    val bands = graft.ops.Dedup.bandKeys(
      graft.ops.Dedup.minhashSignatures(
        graft.ops.Dedup.shingles(d, k, unicode = unicode), numHashes),
      rowsPerBand)
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("key"))
    val sentinel = d.select(col("doc_id"))
      .join(bands.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(-1L).as("band"), lit("").as("key"))
    bands.unionByName(sentinel)
  }

  /** Build the dedup signature index over every stored document and
    * persist the MinHash parameters in the manifest (like the text
    * tier's tokenizer choice), so refresh and [[dedupCandidates]]
    * always band the way the index was built.
    */
  def buildDedupIndex(k: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2, unicode: Boolean = false): Unit = {
    import spark.implicits._
    require(docs.limit(1).count() > 0,
      "cannot build a dedup index over an empty store")
    val bands = dedupBandsFor(
      docs.toDF().select($"id".as("doc_id"), $"text"),
      k, numHashes, rowsPerBand, unicode)
    publish(
      Map(KbStore.DedupBandsTable -> KbStore.Rewrite(bands)),
      m => m.copy(index_params = m.index_params ++ Map(
        "dedup_k" -> k.toString,
        "dedup_num_hashes" -> numHashes.toString,
        "dedup_rows_per_band" -> rowsPerBand.toString,
        "dedup_unicode" -> unicode.toString)),
      readSet = Set("docs"))
  }

  /** Incremental catch-up by doc id, mirroring [[refreshTextIndex]]:
    * bands of departed docs tombstone, new docs shingle+sign fresh and
    * append — SIGNATURE work and WRITE volume are both O(changed docs).
    */
  def refreshDedupIndex(): Unit = refreshFamily(KbStore.IndexFamily.Dedup) {
    (newDocs, goneIds) =>
      val (k, nh, rpb, uni) = dedupParams
      publish(Map(
        KbStore.DedupBandsTable -> KbStore.TablePatch(
          del = goneIds,
          add = Some(dedupBandsFor(newDocs, k, nh, rpb, uni)))),
        identity, readSet = Set("docs"))
  }

  /** Screen a PRE-INGEST batch `(doc_id, text)` against the archive
    * (and against itself): returns the verified near-dup pairs
    * `(doc1, doc2, jaccard)` with at least one side in the batch —
    * [[graft.ops.Dedup.minhashNearDupsIncremental]] with the archive
    * side served by the persisted band index instead of a recompute.
    * Work: band the batch (O(batch)), one equi-join against the stored
    * bands, exact-Jaccard verify shingling ONLY the matched archive
    * docs. Batch ids must be disjoint from stored doc ids (they are
    * provisional — the caller hasn't added the docs yet; offset or
    * negate them if needed).
    *
    * Plan shape at scale: the batch's band keys are tiny (4 rows/doc),
    * so the (band, key) join BROADCASTS the batch side — the stored
    * bands table is scanned once and never crosses an exchange, and
    * the candidate subtree behind it is exchange-reused across its
    * three consumers. Per-screen cost is therefore one scan of the
    * bands table (~50 B/doc — ~0.5% of corpus bytes); deployments
    * screening very small batches at high frequency can cut that scan
    * too by partitioning the family by a key-hash bucket (the
    * text-postings trick) — pruning wins once batch keys ≪ buckets.
    */
  def dedupCandidates(batch: DataFrame,
      threshold: Double = 0.8): DataFrame =
    dedupCandidatesWithCleanup(batch, threshold)._1

  /** [[dedupCandidates]] plus a cleanup handle that unpersists the
    * internal candidate cache once the result is consumed — required
    * by unbounded per-batch callers (the streaming dedup screen), so
    * the session CacheManager doesn't accumulate one orphaned entry
    * per micro-batch. One-shot callers can use [[dedupCandidates]].
    */
  private[graft] def dedupCandidatesWithCleanup(batch: DataFrame,
      threshold: Double = 0.8): (DataFrame, () => Unit) = {
    requireCurrent(KbStore.IndexFamily.Dedup)
    import spark.implicits._
    val (k, nh, rpb, uni) = dedupParams
    val shB = graft.ops.Dedup.shingles(batch, k, unicode = uni)
    val bandsB = graft.ops.Dedup.bandKeys(
      graft.ops.Dedup.minhashSignatures(shB, nh), rpb)
    val bandsA = read(KbStore.DedupBandsTable).where($"band" >= 0L)
      .select($"doc_id", $"band", $"key")
    val archive = docs.toDF().select($"id".as("doc_id"), $"text")
    graft.ops.Dedup.incrementalFromBandsWithCleanup(archive, bandsA,
      shB, bandsB, k, threshold, uni)
  }

  /** Screen a pre-ingest doc batch against the archive (and itself,
    * keep-first) through the persisted dedup family: returns the
    * SURVIVORS — the batch rows whose verified Jaccard vs an archived
    * doc or an earlier row of the same batch stays below `threshold` —
    * with the batch's full schema intact (meta, parent_id ride
    * through), plus a cleanup handle that unpersists the screen's
    * internal caches once the survivors are consumed. A merely-stale
    * dedup index is refreshed in place first (idempotent, O(changed
    * docs)); a missing one fails loudly. Shared by the streaming
    * dedup-on-ingest path and [[bulkAddDocsScreened]].
    */
  private[graft] def screenBatch(batch: DataFrame,
      threshold: Double): (DataFrame, Long, () => Unit) = {
    val pid = "__graft_screen_id"
    require(!batch.columns.contains(pid),
      s"screenBatch appends a $pid column; the batch already has one " +
        "(re-screening an exported screen result? drop it first)")
    refreshIfStale(KbStore.IndexFamily.Dedup)
    // provisional ids disjoint from (and ABOVE) the store's dense id
    // space, order-stable so keep-first is well-defined — appended as
    // a COLUMN so the batch's other columns survive the screen
    val base = metaCache.max_doc_id + 1L
    val provisional = spark.createDataFrame(
      batch.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
      },
      batch.schema.add(pid,
        org.apache.spark.sql.types.LongType, nullable = false))
      .persist()
    // every path below — including a count() that dies mid-job on the
    // streaming hot loop — must unpersist what it persisted, or each
    // failed micro-batch attempt leaks one CacheManager entry forever
    // (the very leak the WithCleanup plumbing exists to prevent)
    try {
      val total = provisional.count() // also the SCREENED row count
      val (pairs, cleanupPairs) = dedupCandidatesWithCleanup(
        provisional.select(col(pid).as("doc_id"), col("text")), threshold)
      try {
        // pairs are doc1 < doc2 and every pair touches the batch, whose
        // ids all sit ABOVE the archive's — so doc2 is always the batch
        // doc (vs an archived partner) or the LATER batch arrival
        // (batch-internal dup): dropping the doc2 side keeps the
        // archive and the first arrival
        val dropIds = pairs.select(col("doc2").as(pid)).distinct()
        val kept = provisional
          .join(dropIds, Seq(pid), "left_anti")
          .drop(pid).persist()
        try kept.count() // materialize before the sources unpersist
        catch { case t: Throwable =>
          kept.unpersist(blocking = false); throw t }
        (kept, total, () => { kept.unpersist(blocking = false); () })
      } finally cleanupPairs()
    } finally provisional.unpersist(blocking = false)
  }

  /** Screened bulk load — the BATCH twin of the streaming
    * dedup-on-ingest mode (backfilling a new dump against the
    * archive): near-dups of archived docs (and batch-internal dups,
    * keep-first) are dropped BEFORE the embedding provider is called,
    * the survivors commit through [[bulkAddDocsDistributed]], and the
    * dedup family is refreshed so the NEXT batch screens against this
    * one's survivors. Returns (added, dropped).
    */
  def bulkAddDocsScreened(newDocs: DataFrame,
      provider: EmbeddingProvider,
      threshold: Double = 0.8): (Long, Long) = {
    // the screened total comes from screenBatch's OWN materialization —
    // a separate newDocs.count() here would evaluate the (un-persisted)
    // input lineage a second full time, and on a nondeterministic
    // source the two passes could disagree and corrupt the arithmetic
    val (kept, total, cleanup) = screenBatch(newDocs, threshold)
    try {
      val survivors = kept.count() // cached by screenBatch — O(metadata)
      if (survivors > 0) {
        bulkAddDocsDistributed(kept, provider)
        refreshDedupIndex()
      }
      (survivors, total - survivors)
    } finally cleanup()
  }

  /** Embedding-space screen core (r12 verdict item 2 — the SemDeDup
    * complement of [[dedupCandidates]], and the ANN family's sixth
    * consumer): for a pre-embedded batch `(vec_id, embedding
    * ARRAY<FLOAT>)` whose ids sit ABOVE the archive's, return one row
    * per batch doc that should be DROPPED — near-dup of an ARCHIVE
    * vector (cosine ≥ `cosThreshold`) or of an EARLIER batch doc
    * (keep-first) — as `(vec_id, best_match, n_matches, max_cos)`.
    *
    * The archive side is pruned through the persisted IVF family
    * BEFORE any kernel work: the batch's vectors probe their `nProbe`
    * nearest stored centroids, the assignment table is scanned once
    * against the broadcast probed-cid set, and the resulting id set
    * (8 B/id) broadcasts into a semi join against `embeddings` — so
    * the exact-cosine verify touches only the probed fraction of the
    * corpus (O(batch × nProbe/nlist × corpus) kernel work, the
    * SemDeDup cluster-bounding applied at the ingest boundary), and
    * neither archive table crosses an exchange. `nProbe >= nlist`
    * degenerates to the EXACT screen — identical to
    * [[graft.ops.Dedup.semanticScreen]] over the full archive (the
    * oracle/spec anchor, the k3 pattern); partial probes trade recall
    * exactly as IVF retrieval does. A merely-stale ANN family is
    * refreshed in place first (O(changed docs)); a missing one fails
    * loudly — silent screen misses are worse than an error.
    */
  private[graft] def semanticDropHits(batchVec: DataFrame,
      cosThreshold: Double, nProbe: Int = 8): DataFrame = {
    refreshIfStale(KbStore.IndexFamily.Ann)
    require(hasAnnIndex,
      "no ANN index: call buildAnnIndex() before semantic screening")
    import graft.functions.FloatVecPack.floatVecPack
    val centRows = ivfCentroids()
    val nlist = centRows.length
    val arch = embeddings.toDF()
      .select($"id".as("vec_id"), $"vec".as("embedding"))
    val archive =
      if (nProbe >= nlist) arch // full probe = exact (oracle anchor)
      else {
        val cents = centRows.map { case (cid, cv) => (cid, cv.map(_.toFloat)) }
          .sortBy(_._1).toArray
        val packedQ = batchVec.select(col("vec_id").as("id"),
          floatVecPack(col("embedding")).as("vec"))
        val probed = graft.ops.SimilaritySearch
          .probeRanks(packedQ, cents, nProbe)
          .select(col("cid")).distinct()
        val prunedIds = read(KbStore.IvfAssignTable)
          .join(broadcast(probed), Seq("cid")).select($"vec_id")
        arch.join(broadcast(prunedIds), Seq("vec_id"), "left_semi")
      }
    val vsArchive = graft.ops.Dedup.semanticHits(
      archive, batchVec, cosThreshold)
    val internal = graft.ops.Dedup.semanticHits(
        batchVec, batchVec, cosThreshold)
      .where(col("tid") < col("qid"))
    graft.ops.Dedup.aggContaminationHits(vsArchive.unionByName(internal))
  }

  /** Embedding-space twin of [[screenBatch]]: screen a pre-ingest doc
    * batch against the archive (and itself, keep-first) for
    * SEMANTIC near-dups through the persisted ANN family. The batch
    * is embedded ONCE (provider batches of 200) before screening, and
    * the survivors are returned WITH their `vec` column so the commit
    * leg ([[bulkAddDocsDistributed]]'s pre-embedded path) never calls
    * the provider again — a doc dropped here still paid its provider
    * call (embedding-space screening can't precede embedding), but it
    * never bloats the corpus or needs a retroactive delete. Returns
    * (survivors incl. vec, screened-count, cleanup). Shared by the
    * streaming semantic dedup-on-ingest mode and
    * [[bulkAddDocsScreenedSemantic]].
    *
    * Caveat (r13 review): the once-per-doc provider bill holds as long
    * as the survivors' cached blocks survive until the commit — a lost
    * executor (impossible in local mode, possible on a cluster)
    * recomputes lost partitions from lineage, which re-runs the embed
    * stage for them. A replayed embed re-bills but cannot corrupt:
    * the streaming source pins each micro-batch's rows, the screen is
    * deterministic in them, and the magnitude check still guards the
    * commit. Cluster deployments that must hard-bound the provider
    * bill should checkpoint the survivors before committing.
    */
  private[graft] def screenBatchSemantic(batch: DataFrame,
      cosThreshold: Double, provider: EmbeddingProvider,
      nProbe: Int = 8): (DataFrame, Long, () => Unit) = {
    val pid = "__graft_screen_id"
    require(!batch.columns.contains(pid),
      s"screenBatchSemantic appends a $pid column; the batch already " +
        "has one (re-screening an exported screen result? drop it first)")
    require(!batch.columns.contains("vec"),
      "screenBatchSemantic embeds the batch itself; drop the existing " +
        "vec column (or commit via bulkAddDocsDistributed directly)")
    refreshIfStale(KbStore.IndexFamily.Ann)
    require(hasAnnIndex,
      "no ANN index: call buildAnnIndex() before semantic screening")
    val base = metaCache.max_doc_id + 1L
    val provisional = spark.createDataFrame(
      batch.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
      },
      batch.schema.add(pid,
        org.apache.spark.sql.types.LongType, nullable = false))
      .persist()
    try {
      val total = provisional.count() // also the SCREENED row count
      val prov = provider
      val embedded = provisional.select(col(pid), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
            val vecs = Embeddings.checkMagnitude(prov.embed(chunk.map(_._2)))
            chunk.map(_._1).zip(vecs)
          }
        }.toDF(pid, "vec").persist()
      try {
        embedded.count()
        val batchVec = embedded.select(col(pid).as("vec_id"),
          col("vec").as("embedding"))
        val dropIds = semanticDropHits(batchVec, cosThreshold, nProbe)
          .select(col("vec_id").as(pid)).distinct()
        val kept = provisional
          .join(embedded, Seq(pid))
          .join(dropIds, Seq(pid), "left_anti")
          .drop(pid).persist()
        try kept.count() // materialize before the sources unpersist
        catch { case t: Throwable =>
          kept.unpersist(blocking = false); throw t }
        (kept, total, () => { kept.unpersist(blocking = false); () })
      } finally embedded.unpersist(blocking = false)
    } finally provisional.unpersist(blocking = false)
  }

  /** Semantically screened bulk load — the batch twin of the streaming
    * semantic dedup-on-ingest mode: paraphrase-level near-dups of
    * archived docs (and batch-internal, keep-first) are dropped before
    * commit, with an optional LEXICAL pre-screen (`lexicalThreshold`)
    * so MinHash-visible dups never even pay the provider call — the
    * standard two-stage curation order (cheap lexical first, semantic
    * on the survivors; Abbas et al. 2023). Survivors commit with
    * their screen-time embeddings (no second provider pass) and both
    * screen families are refreshed so the NEXT batch screens against
    * this one's survivors. Returns (added, dropped).
    */
  def bulkAddDocsScreenedSemantic(newDocs: DataFrame,
      provider: EmbeddingProvider, cosThreshold: Double = 0.9,
      nProbe: Int = 8,
      lexicalThreshold: Option[Double] = None): (Long, Long) = {
    val (lexKept, lexTotal, lexCleanup) = lexicalThreshold match {
      case Some(t) => screenBatch(newDocs, t)
      case None => (newDocs, -1L, () => ())
    }
    try {
      val (kept, semTotal, cleanup) =
        screenBatchSemantic(lexKept, cosThreshold, provider, nProbe)
      try {
        val survivors = kept.count() // cached by the screen — O(metadata)
        if (survivors > 0) {
          bulkAddDocsDistributed(kept, provider)
          if (lexicalThreshold.isDefined)
            refreshIfStale(KbStore.IndexFamily.Dedup)
          refreshAnnIndex()
        }
        val total = if (lexTotal >= 0) lexTotal else semTotal
        (survivors, total - survivors)
      } finally cleanup()
    } finally lexCleanup()
  }

  /** G2 dfs_traversal (`kb.py:1580-1593`): pre-order via materialized
    * id-paths (lexicographic path order == DFS pre-order).
    */
  def dfsTraversal(): Seq[Doc] = {
    val paths = graft.ops.Hierarchy.withPaths(
      docs.toDF(), "id", "parent_id", col("parent_id").isNull)
    // preorder assigned by distributed range-sort (no global Window, no
    // second full-table collect); the single collect here is the API
    // contract — the reference returns a materialized list (kb.py:1580)
    val ranked = graft.ops.Hierarchy.withPreorder(paths)
      .select(col("id").as("rid"), col("preorder"))
    docs.toDF().join(ranked, col("id") === col("rid"))
      .orderBy(col("preorder"))
      .drop("rid", "preorder")
      .as[Doc].collect().toSeq
  }

  /** Corpus re-embed / provider migration (SURVEY §7.5; the reference's
    * `Re-embed Dad Jokes with Ollama.ipynb` workflow): recompute every
    * stored document's embedding under a new provider in partition
    * batches, swap the embeddings table atomically, persist the new
    * provider params.
    */
  def reembedAll(provider: EmbeddingProvider): Unit = {
    val prov = provider
    val newEmb = docs.filter($"emb_id".isNotNull)
      .select($"emb_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
          val vecs = Embeddings.checkMagnitude(prov.embed(chunk.map(_._2)))
          chunk.map(_._1).zip(vecs).map { case (id, v) => Emb(id, v) }
        }
      }
    publish(
      Map("embeddings" -> KbStore.Rewrite(newEmb.toDF())),
      m => m.copy(embedding_params = provider.params),
      replacesVectors = true)
  }

  // ------------------------------------------------------------------
  // maintenance (S7/S8)
  // ------------------------------------------------------------------
  /** S6 gzip sink analog (`kb.py:1456-1464`): rewrite the current
    * version with the given parquet codec (compaction + recompression —
    * Parquet compresses natively so "gzip the file" becomes a codec
    * rewrite). `numFiles = 1` mirrors the reference's single-file
    * output; raise it when a table is large enough that one writer (and
    * one downstream scan task) would serialize everything.
    */
  def compact(codec: String = "gzip", numFiles: Int = 1): Unit =
    compactWithLayout(codec, numFiles, Map.empty)

  /** MAJOR compaction with physical layout (the lakehouse OPTIMIZE
    * ZORDER, store-integrated): like [[compact]], but the named table
    * is rewritten clustered by the Z-value of `zCols` — unbounded
    * values scaled by [[graft.ops.Layout.withZColumn]]'s uniform
    * bucketing, range-partitioned into `numFiles` internally-sorted
    * files — so parquet min/max stats (and a
    * [[graft.ops.Layout.parquetFileStats]] manifest, if the deployment
    * keeps one) prune scans on ANY of the interleaved columns. Goes
    * through the SAME commit path as every mutation: manifest CAS,
    * atomic publish, chain folding, stale-family hold-back, postings
    * partition layout — a layout rewrite is just a commit whose data
    * is unchanged (spec asserts read-back parity and per-file z-range
    * disjointness).
    */
  def compactZordered(table: String, zCols: Seq[String], bits: Int = 8,
      numFiles: Int = 8, codec: String = "snappy"): Unit = {
    require(metaCache.table_versions.contains(table) ||
      KbStore.TableNames.contains(table), s"unknown table $table")
    compactWithLayout(codec, numFiles = 1, Map(table -> { df =>
      graft.ops.Layout.withZColumn(df, bits, zCols)
        .repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }))
  }

  private def compactWithLayout(codec: String, numFiles: Int,
      layout: Map[String, DataFrame => DataFrame]): Unit = {
    // a STALE index family must not ride along: rewriting it at the new
    // version would equalize its version with embeddings' and silently
    // promote it to Current while it still misses the docs added since
    // its build. Excluded PER FAMILY (an ANN index can be stale while
    // the compressed tier is current, and vice versa): stale families
    // keep their old pointers (still stale after the bump) and their
    // refresh then compacts them naturally.
    val staleIdx = KbStore.IndexFamily.All
      .filter(indexState(_) == KbStore.AnnStale).flatMap(_.tables).toSet
    val names = metaCache.table_versions.keys.filterNot(staleIdx.contains)
    // captured BEFORE the commit moves the head: the marker bump below
    // is only sound for a mirror that was current going in
    val preCodesVersion =
      metaCache.table_versions.get(KbStore.IvfPqCodesTable)
    // this rewrite includes `embeddings` but replaces no vectors, so it
    // does not set `replacesVectors`: a stale index keeps its pointers
    // (dropping them would flip AnnStale -> AnnNone and let the next
    // vacuum delete the index dirs instead of refreshing them). The
    // postings table keeps its term-bucket partitioning through the
    // rewrite, like every write of it (KbStore.DeltaPartitioning).
    publish(
      names.map { name =>
        name -> KbStore.Rewrite(layout.getOrElse(name,
          (df: DataFrame) => df.coalesce(math.max(1, numFiles)))
          .apply(read(name)))
      }.toMap,
      identity, codec = codec)
    // a compacted (current) pq family moved the codes VERSION but not
    // its rows (a compact is a same-content rewrite), so a mirror that
    // reflected the PRE-compact version is still byte-correct — just
    // bump its marker to the new version instead of rewriting O(codes);
    // without this a routine compact would silently demote pqKnnJoin to
    // the plain-kernel path. A marker naming any OTHER version was
    // stale before the compact (e.g. a buildPqIndex() rebuild with
    // bucketCodes = false) — promoting it here would make pqKnnJoin
    // serve the old mirror's codes as current, so drop the marker and
    // let callers fall back (or rebuild) instead.
    if (hasPqIndex)
      readBucketMarker().foreach { case (tbl, b, parts, v) =>
        metaCache.table_versions.get(KbStore.IvfPqCodesTable).foreach { nv =>
          if (preCodesVersion.contains(v)) {
            if (nv != v) writeBucketMarker(tbl, b, parts, nv)
          } else {
            // stale marker: drop the marker + catalog entry so pqKnnJoin
            // can never resolve the dead mirror, but LEAVE the external
            // _pq_codes_data files for vacuum to reclaim — compact is a
            // routine operation a reader may overlap, and a reader that
            // resolved the (then-stale) mirror before this compact may
            // still be mid-scan over those parquet files. Vacuum (an
            // explicitly reader-free operation) sweeps the now-orphaned
            // data dir: its mirror reclaim covers the marker-less case.
            // Best-effort throughout: the compact commit already
            // succeeded, and a cleanup IOException must not undo that.
            try spark.sql(s"DROP TABLE IF EXISTS $tbl")
            catch { case _: Exception => () }
            try Files.deleteIfExists(bucketMarkerPath)
            catch { case _: java.io.IOException => () }
          }
        }
      }
  }

  /** Drop old table versions (VACUUM, `kb.py:831-834`). Retention is
    * manifest-history based (round 6): the last `retain` superseded
    * manifests (`_meta.v<N>.json`) stay readable — every segment dir
    * any of them references survives — so a reader that resolved a
    * prior manifest can still finish its scan even when that state was
    * a merge-on-read chain spanning many version dirs. `retain = 0`
    * reclaims everything but the currently committed state (safe in
    * the reference, whose readers share the one SQLite connection;
    * here it requires no concurrent readers). Staged directories from
    * versions NEWER than the manifest (a crashed, never-published
    * commit) are always reclaimed, and history files beyond `retain`
    * are pruned.
    */
  def vacuum(retain: Int = 1): Unit = {
    val curMeta = metaCache
    val backups = KbStore.listMetaBackups(path) // version-desc
    val keptBackups = backups.filter(_._1 < curMeta.version)
      .take(math.max(0, retain))
    val metas = curMeta +: keptBackups.flatMap { case (_, p) =>
      try Some(KbStore.parseMeta(Files.readString(p)))
      catch { case _: Exception => None } // unreadable history: skip
    }
    def liveFor(name: String): Set[Long] = metas.flatMap { m =>
      m.table_versions.get(name).toSeq ++ m.table_bases.get(name).toSeq ++
        m.table_deltas.getOrElse(name, Nil)
    }.toSet
    // orphaned table directories (e.g. an ANN index invalidated by an
    // embeddings commit) have no manifest pointer at all — reclaim them.
    // Only dirs this store demonstrably owns are touched: known index
    // table names, or dirs laid out exclusively as v<N> version subdirs.
    // Anything else under the root (a streaming checkpoint, a user's
    // backup/scratch dir) is not ours to delete.
    // "known" spans retained history too: a family dropped since a
    // retained manifest (an invalidated ANN index) is still that
    // reader's data, not an orphan
    val known = metas.flatMap(_.table_versions.keySet).toSet
    // an unreadable root skips the orphan sweep (nothing to reclaim that
    // we can see) rather than aborting vacuum before the per-table sweep
    val rootListing =
      try Files.list(Paths.get(path))
      catch { case _: java.io.IOException |
                   _: java.io.UncheckedIOException =>
        java.util.stream.Stream.empty[Path]() }
    try {
      rootListing.forEach { p =>
        val name = p.getFileName.toString
        // filesystem races (a dir vanishing between list and probe, an
        // unreadable dir) skip that entry, never abort the whole sweep
        val ours = Files.isDirectory(p) && !known.contains(name) &&
          (KbStore.IndexTables.contains(name) ||
            (try KbStore.isVersionedTableDir(p)
             catch { case _: java.io.IOException |
                          _: java.io.UncheckedIOException => false }))
        if (ours)
          try deleteDir(p)
          catch { case _: java.io.IOException |
                       _: java.io.UncheckedIOException => () }
      }
    } finally rootListing.close()
    known.foreach { name =>
      // a table state is alive at EVERY version dir its chain references
      // (base + deltas + head), across the current manifest and each
      // retained prior manifest
      val live = liveFor(name)
      val dir = Paths.get(s"$path/$name")
      if (Files.isDirectory(dir)) {
        // digits-only parse ("v+3" is NOT store layout — leave foreign
        // dirs alone even inside a table dir); an IO race during the
        // listing skips this table's sweep, never aborts vacuum
        val versions = try {
          val listed = Files.list(dir)
          try {
            val b = Seq.newBuilder[(Long, Path)]
            listed.forEach { p =>
              val n = p.getFileName.toString
              if (n.startsWith("v") && n.length > 1 &&
                  n.drop(1).forall(_.isDigit))
                n.drop(1).toLongOption.foreach(v => b += (v -> p))
            }
            b.result()
          } finally listed.close()
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            Seq.empty[(Long, Path)]
        }
        // upgrade window: a store whose superseded manifests predate
        // the history-file mechanism has fewer backups than `retain`
        // asks for — fall back to the old per-table heuristic (keep
        // the newest non-live version dirs below the current head) for
        // the shortfall, so retain>=1 never silently degrades to 0
        val shortfall = math.max(0, retain) - keptBackups.size
        val keepHeuristic =
          if (shortfall <= 0) Set.empty[Long]
          else metaCache.table_versions.get(name) match {
            case None => Set.empty[Long]
            case Some(head) => versions.map(_._1)
              .filter(v => v < head && !live(v))
              .sorted.takeRight(shortfall).toSet
          }
        versions.foreach { case (v, p) =>
          if (!live(v) && !keepHeuristic(v))
            try deleteDir(p)
            catch { case _: java.io.IOException |
                         _: java.io.UncheckedIOException => () }
        }
      }
    }
    // prune history files beyond the retention window (and any backup
    // at/after the current version — stale leftovers of a rolled-back
    // writer can't happen, but being precise here costs one contains())
    backups.filterNot(keptBackups.contains).foreach { case (_, p) =>
      try Files.deleteIfExists(p)
      catch { case _: java.io.IOException => () }
    }
    // the bucketed codes MIRROR is derived state: once the pq family it
    // reflects is gone (invalidated + reclaimed above) or has moved past
    // the marker's version, the catalog table is dead weight — drop it
    // with the marker (a current mirror is left alone). Best-effort,
    // like the rest of the sweep.
    readBucketMarker() match {
      case Some((tbl, _, _, v)) =>
        val liveCodes = metaCache.table_versions
          .get(KbStore.IvfPqCodesTable).contains(v)
        if (!liveCodes) {
          try spark.sql(s"DROP TABLE IF EXISTS $tbl")
          catch { case _: Exception => () }
          // the table is EXTERNAL (files under the store dir survive the
          // DROP) — reclaim the data files too
          try deleteDir(Paths.get(bucketedCodesDataPath))
          catch { case _: java.io.IOException |
                       _: java.io.UncheckedIOException => () }
          try Files.deleteIfExists(bucketMarkerPath)
          catch { case _: java.io.IOException => () }
        }
      case None =>
        // marker-less data dir: a compact dropped a stale mirror's
        // marker + catalog entry but (deliberately — in-flight readers)
        // left the external files. Vacuum runs reader-free, so the
        // orphaned bytes reclaim here.
        try deleteDir(Paths.get(bucketedCodesDataPath))
        catch { case _: java.io.IOException |
                     _: java.io.UncheckedIOException => () }
    }
  }

  // ------------------------------------------------------------------
  // time travel & change feed (round 6 — the lakehouse read contract
  // the merge-on-read manifests make cheap: a 100 TB downstream
  // consumer re-reads O(changed) bytes per sync, not the corpus)
  // ------------------------------------------------------------------

  /** Manifest snapshot at `version`: the live manifest, or a retained
    * `_meta.v<version>.json` history file. Availability equals vacuum
    * retention — a pruned version throws rather than silently serving
    * the wrong snapshot.
    */
  def metaAt(version: Long): KbMeta = {
    val cur = metaCache
    if (version == cur.version) cur
    else KbStore.listMetaBackups(path).find(_._1 == version) match {
      case Some((_, p)) => KbStore.parseMeta(Files.readString(p))
      case None => throw new IllegalStateException(
        s"store $path has no manifest v$version (current ${cur.version}; " +
          "history files are pruned by vacuum retention — raise `retain` " +
          "to keep more versions readable)")
    }
  }

  /** Versions readable right now (current + retained history), desc. */
  def snapshotVersions: Seq[Long] =
    (metaCache.version +: KbStore.listMetaBackups(path).map(_._1))
      .distinct.sortBy(v => -v)

  /** Time-travel read: the table exactly as manifest `version` saw it
    * (its base + its segment chain) — immutable segment dirs make this
    * a plain chain fold, no copy-on-write bookkeeping.
    */
  def readTableAt(name: String, version: Long): DataFrame = {
    val m = metaAt(version)
    require(m.table_versions.contains(name),
      s"table $name does not exist at version $version")
    readWithMeta(m, name)
  }

  /** Ordered per-table change feed over manifest steps in
    * `(fromVersion, toVersion]` — the incremental-consumption contract:
    * a downstream job that processed version N syncs to head by
    * applying each step's `removedKeys` (anti-join) then `added`
    * (union), without rescanning the table
    * ([[StoreScaleSpec]] pins the replay identity).
    *
    * Cost per step: a commit that EXTENDED the segment chain emits its
    * staged segments verbatim — O(batch) IO, the overwhelmingly common
    * mutation shape. A step that rewrote the base (explicit
    * [[compact]], a chain-limit minor compaction, a full-rewrite path
    * like [[reembedAll]], an index-family build) falls back to a keyed
    * snapshot diff of the two manifest views — exact (a pure layout
    * rewrite diffs to zero changes) but O(table) compute; consumers
    * that need guaranteed O(changed) syncs should drain the feed
    * before compacting. Updates surface as remove+add of the same key,
    * in that order.
    */
  def tableChangelog(name: String, fromVersion: Long,
      toVersion: Long = -1L): Seq[KbStore.TableChanges] = {
    val to = if (toVersion < 0L) metaCache.version else toVersion
    require(fromVersion <= to,
      s"fromVersion $fromVersion is past toVersion $to")
    val keys = KbStore.DeltaKeys(name).map(col(_))
    val metas = (fromVersion to to).map(metaAt)
    metas.sliding(2).flatMap {
      case Seq(prev, next) =>
        val (had, has) =
          (prev.table_versions.contains(name), next.table_versions.contains(name))
        val untouched =
          prev.table_versions.get(name) == next.table_versions.get(name) &&
            prev.table_deltas.getOrElse(name, Nil) ==
              next.table_deltas.getOrElse(name, Nil)
        if (untouched) None
        else if (had && has &&
            extendsLayout(layoutOf(prev, name), layoutOf(next, name))) {
          // chain extension: the appended segments ARE the change
          val (base, chain) = layoutOf(next, name)
          val empty = baseSegment(name, base).limit(0)
          val (adds, dels) = foldPatches(name, empty,
            chain.drop(layoutOf(prev, name)._2.size).map(published(name, _)))
          Some(KbStore.TableChanges(next.version, adds,
            dels.getOrElse(empty.select(keys: _*))))
        } else {
          // base moved (compact / minor merge / full rewrite / family
          // build or drop): exact keyed snapshot diff
          val a = if (had) readWithMeta(prev, name)
            else readWithMeta(next, name).limit(0)
          val b = if (has) readWithMeta(next, name)
            else a.limit(0)
          Some(KbStore.TableChanges(next.version,
            b.except(a), a.except(b).select(keys: _*)))
        }
      case _ => None // single manifest: empty range
    }.toSeq
  }

  def close(vacuumFirst: Boolean = false): Unit = {
    // closing ends this writer's session — full reclamation is safe
    if (vacuumFirst) vacuum(retain = 0)
    synchronized {
      invalidate()
      release(_ => true)
    }
  }
}

object KbStore {
  val TableNames: Seq[String] = Seq("docs", "embeddings", "edges", "keyval")
  val SchemaVersion = 1

  /** Optional batch-built ANN index tables (manifest-managed like the
    * base tables, but droppable: a vector-replacing commit invalidates
    * them; add/delete-only commits just leave them stale).
    */
  val IvfCentroidsTable = "ivf_centroids"
  val IvfAssignTable = "ivf_assign"
  /** int8 compressed-tier codes (round 5) — same droppable lifecycle. */
  val SqCodesTable = "sq_codes"
  /** IVF-PQ family (round 6): coarse centroids + residual PQ codebooks
    * + per-vector codes — the 64×-compressed tier, same droppable
    * lifecycle as the other vector-derived families.
    */
  val IvfPqCentroidsTable = "ivfpq_centroids"
  val IvfPqBooksTable = "ivfpq_books"
  val IvfPqCodesTable = "ivfpq_codes"
  val IvfPqTables: Seq[String] =
    Seq(IvfPqCentroidsTable, IvfPqBooksTable, IvfPqCodesTable)
  /** Lexical (BM25) tier: postings + doc lengths, keyed on `docs`. */
  val TextPostingsTable = "text_postings"
  val TextDocLensTable = "text_doclens"
  /** Dedup-signature tier (round 12): MinHash LSH band keys per doc,
    * keyed on `docs` like the lexical family — cross-snapshot
    * incremental dedup bands new ingest against this table instead of
    * re-mining the archive. */
  val DedupBandsTable = "dedup_bands"
  /** Postings partition fan-out; a query's terms prune to ≤|terms|
    * of these partitions.
    */
  val TextBuckets = 64

  /** Driver-side twin of [[withTermBucket]]'s column expression (CRC32
    * over UTF-8 bytes — the same zlib polynomial in `java.util.zip` and
    * Spark's `crc32`), so retrieval can compute a term's partition
    * without touching the cluster.
    */
  def termBucketOf(term: String): Int = {
    val c = new java.util.zip.CRC32()
    val b = term.getBytes("UTF-8")
    c.update(b, 0, b.length)
    (c.getValue % TextBuckets).toInt
  }

  /** Add the term-hash partition column to a postings DataFrame. */
  def withTermBucket(postings: DataFrame): DataFrame =
    postings.withColumn("bucket",
      (crc32(col("term").cast("binary")) % TextBuckets).cast("int"))

  /** One manifest-managed index family: the facts its lifecycle reads.
    * `tables` commit, go stale, compact and vacuum together;
    * `watermark` is the table whose version says how far the family
    * has covered its `source` (`embeddings` or `docs`); `keyed`/`key`
    * name the index table and column the full-diff fallback reads the
    * stored keys from; `payload` is the source column the family
    * encodes; `words` and `name` spell its errors ("no ANN index:
    * call buildAnnIndex()").
    *
    * State is pure manifest arithmetic: None while `watermark` has no
    * pointer (never built, or dropped by a vector replacement), Current
    * while its version is at least `source`'s, Stale otherwise — the
    * surviving rows are still right, only incomplete, and a refresh
    * catches them up from the changed source rows.
    *
    * WATERMARK INVARIANT: a refresh reads the source rows changed
    * strictly after `tv(watermark)`, treating the watermark's manifest
    * version as a COVERAGE watermark over `source`. That is valid
    * because every writer of a family's tables (build*, refresh*)
    * commits in the same manifest transaction that reads the source's
    * current head — an index row set at version V has, by
    * construction, folded every source segment ≤ V. A future writer
    * that bumps a family's version WITHOUT covering the source (e.g. a
    * metadata-only rewrite of the postings layout) would silently skip
    * rows; such a writer must either keep the family's version below
    * the source's or use a full rebuild path.
    */
  private final case class IndexFamily(words: String, name: String,
      tables: Seq[String], watermark: String, source: String,
      payload: String, keyed: String, key: String,
      refresh: KbStore => Unit)

  private object IndexFamily {
    val Ann = IndexFamily("ANN index", "Ann",
      Seq(IvfCentroidsTable, IvfAssignTable), IvfAssignTable,
      "embeddings", "vec", IvfAssignTable, "vec_id", _.refreshAnnIndex())
    val Sq = IndexFamily("compressed tier", "Sq", Seq(SqCodesTable),
      SqCodesTable, "embeddings", "vec", SqCodesTable, "vec_id",
      _.refreshSqIndex())
    val Pq = IndexFamily("IVF-PQ index", "Pq", IvfPqTables, IvfPqCodesTable,
      "embeddings", "vec", IvfPqCodesTable, "vec_id", _.refreshPqIndex())
    val Text = IndexFamily("text index", "Text",
      Seq(TextPostingsTable, TextDocLensTable), TextPostingsTable, "docs",
      "text", TextDocLensTable, "doc_id", _.refreshTextIndex())
    val Dedup = IndexFamily("dedup index", "Dedup", Seq(DedupBandsTable),
      DedupBandsTable, "docs", "text", DedupBandsTable, "doc_id",
      _.refreshDedupIndex())
    /** Every family, in the order [[KbStore.refreshStaleIndexes]] runs. */
    val All: Seq[IndexFamily] = Seq(Ann, Sq, Text, Dedup, Pq)
  }

  /** Vector-derived families' tables — dropped when a vector is
    * REPLACED; the text-derived families survive it. */
  val VectorIndexTables: Seq[String] =
    IndexFamily.All.filter(_.source == "embeddings").flatMap(_.tables)
  /** Every index-family table (vacuum ownership, compact bookkeeping). */
  val IndexTables: Seq[String] = IndexFamily.All.flatMap(_.tables)

  sealed trait AnnState
  case object AnnNone extends AnnState
  case object AnnStale extends AnnState
  case object AnnCurrent extends AnnState

  // ---------------- merge-on-read segment chains (round 6) ----------
  /** One table's part of a commit: a new base ([[Rewrite]]) or a delta
    * that extends its segment chain ([[TablePatch]]). */
  sealed trait TableWrite

  /** A table's new base: `rows` replace the table and its chain. */
  private[core] final case class Rewrite(rows: DataFrame) extends TableWrite

  /** One mutation's effect on one table: tombstone keys to remove and
    * rows to append, applied in that order.
    */
  final case class TablePatch(del: Option[DataFrame] = None,
      add: Option[DataFrame] = None) extends TableWrite

  /** One step of [[KbStore.tableChangelog]]: the manifest version that
    * published the change, the rows it added (full table schema), and
    * the keys it removed ([[DeltaKeys]] columns). Apply removed-then-
    * added to roll a snapshot forward one step.
    */
  final case class TableChanges(version: Long, added: DataFrame,
      removedKeys: DataFrame)

  /** Incrementally-maintained dataset-card table (opt-in via
    * [[KbStore.buildStats]]): 5 metric rows, replaced through the same
    * delta-commit path as any table. */
  val StatsTable = "stats"

  /** The user-data tables whose mutations must move the stats card. */
  val DataTables: Set[String] = Set("docs", "embeddings", "edges", "keyval")

  /** One mutation's effect on the dataset card — signed row/char
    * deltas, supplied BY the mutation path (which already knows them
    * from its own guards) so the generic commit never has to re-run a
    * patch's pipeline (an embeddings add may embed through a remote
    * provider; counting it generically would embed twice).
    */
  final case class StatsDelta(docs: Long = 0L, embeddings: Long = 0L,
      edges: Long = 0L, keys: Long = 0L, chars: Long = 0L)

  /** Tombstone key columns per table — what a `del` segment stores and
    * what the read-side anti-join probes. Doc/edge ids are high-water
    * assigned and keyval keys resolve by fold order, so key semantics
    * are exact under the ordered merge.
    */
  val DeltaKeys: Map[String, Seq[String]] = Map(
    "docs" -> Seq("id"), "embeddings" -> Seq("id"),
    "edges" -> Seq("id"), "keyval" -> Seq("key"),
    StatsTable -> Seq("metric"),
    IvfAssignTable -> Seq("vec_id"), SqCodesTable -> Seq("vec_id"),
    IvfPqCodesTable -> Seq("vec_id"),
    TextPostingsTable -> Seq("doc_id"), TextDocLensTable -> Seq("doc_id"),
    DedupBandsTable -> Seq("doc_id"))

  /** Physical layout every write of a table keeps (a rewritten base,
    * an add segment, a minor compaction's merged segment) — the
    * postings' term-bucket partitioning is what makes bm25Retrieve's
    * scan prune.
    */
  val DeltaPartitioning: Map[String, Seq[String]] = Map(
    TextPostingsTable -> Seq("bucket"))

  /** Read fan-in bound: at this many stacked deltas the next delta
    * commit materializes the table instead (amortized write volume
    * O(batch + table/limit)).
    */
  val DeltaChainLimit: Int = 32

  /** Whether the refresh kill switch has announced itself yet. */
  private val forceFullWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Whether a segment directory holds at least one parquet file — an
    * empty partitioned write leaves only _SUCCESS, and a mutation may
    * have no del (pure add) or no add (pure delete). Not memoized here:
    * the per-store resolver (`KbStore#segment`) probes each published
    * segment once and keeps the answer until the manifest stops
    * referencing that segment or the store deletes it.
    */
  private[core] def hasParquetFiles(dir: String): Boolean = {
    val p = Paths.get(dir)
    Files.isDirectory(p) && {
      val walk = Files.walk(p)
      try walk.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
  }

  /** `read` with Spark's file listing kept on the driver. A read of a
    * directory with more than `parallelPartitionDiscovery.threshold`
    * (32) subdirectories lists them with a distributed job of one task
    * per subdirectory: ~0.5 s for the [[TextBuckets]] partition dirs of
    * a `text_postings` segment, where the driver lists them in a few
    * ms. Store segments are local directories of at most that many
    * partition dirs, so the driver's listing is always the cheaper one.
    * The session setting is restored afterwards; the lock keeps two
    * overlapping reads from restoring each other's value.
    */
  private[core] def listedOnDriver[A](spark: SparkSession)(read: => A): A =
    ListingLock.synchronized {
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, Int.MaxValue.toString)
      try read
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  private object ListingLock

  /** `plan` (a memoized analyzed read) as a new DataFrame whose scans
    * carry fresh attribute ids — what a new `spark.read` of the same
    * files would plan, without re-listing them or re-inferring the
    * schema.
    */
  private[core] def freshScan(spark: SparkSession,
      plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      plan.transformUpWithNewOutput {
        case r: MultiInstanceRelation =>
          val n = r.newInstance()
          (n, r.output.zip(n.output))
      })

  /** Largest planned view (Parquet bytes) of `docs`, `keyval`,
    * `ivf_assign`, `text_postings` or `text_doclens` a store keeps
    * resident. A write that appends to a table's delta chain costs the
    * next read only the new segments, folded into the held rows; a
    * write that rewrites the table (a compaction, a full commit) makes
    * the next read collect the whole table again. The cap is checked
    * on every new layout, so a table that grows past it leaves
    * residency. Measured on a 4-core box, before the fold (every write
    * made the next read collect the whole table):
    *   - docs: a loop of `updateDocMeta` then one `fetchDoc` costs about
    *     what it does with the filtered read at 86 KB, +5% at 257 KB and
    *     +17% at 0.8 MB, and every further read per write saves a whole
    *     filtered read (~0.8 s there). The table takes ~13× its Parquet
    *     bytes of heap.
    *   - text and ANN indexes, with the cap lifted or forced off on one
    *     store: a loop of a one-doc `bulkAddDocs`, the index refresh and
    *     one read cost, per cycle (median), BM25 5.0 s resident vs 7.3 s
    *     Spark at 6k docs (1.8 MB of postings) and 6.1 vs 9.4 s at 20k
    *     (5.3 MB); ANN 2.8 vs 3.8 s at 6k and 4.2 vs 3.7 s at 20k. A
    *     read with no write before it took 14–29 ms resident vs 4.9–5.4 s
    *     on the Spark route (BM25) and 2–4 ms vs 1.8–2.0 s (ANN). The
    *     resident postings take 2.8–3.6× their Parquet bytes of heap
    *     (2.4 MB at 2k docs, 19 MB at 20k). These runs predate the
    *     one-file-per-bucket postings write, which stores the same rows
    *     in ~30% fewer bytes.
    * The storebench stores plan below the cap (serve: docs 412 KB,
    * postings 617 KB; ingest: docs at most ~730 KB); no workload
    * reaches it, so the cut-off itself is not benchmarked.
    */
  val ResidentMaxBytes: Long = 1L << 20

  /** One resident table: the rows collected (kept so a later layout
    * can fold its new segments into them) and their driver-side form. */
  private final case class Resident[R, T](rows: Array[R], value: T)

  /** One kind of read-memo entry (see the class doc): what reads of
    * `table` hold for one of its layouts, under `name`. `load` builds
    * it for a layout, None when that layout is not held; `fold` brings
    * a held value that `folds` forward to a layout whose chain appends
    * the given versions to its own, None when it cannot (the entry is
    * then loaded again); `release` frees what a value pins outside the
    * driver heap. */
  private final class Memo[T <: AnyRef](val name: String, val table: String,
      val load: ((Long, Seq[Long])) => Option[T],
      val folds: T => Boolean,
      val fold: (T, (Long, Seq[Long]), Seq[Long]) => Option[T],
      val release: T => Unit = (_: T) => ())

  /** What read-memo entry `memo` holds for `layout` of its table. */
  private final case class Held[T <: AnyRef](memo: Memo[T],
      layout: (Long, Seq[Long]), value: Option[T]) {
    def folds: Boolean = value.exists(memo.folds)
    def release(): Unit = value.foreach(memo.release)
  }

  /** Every doc row of one docs layout, keyed by id and by emb_id: the
    * resident doc table read paths hydrate hits from. */
  private[core] final class DocTable(rows: Array[Doc]) {
    val byId: Map[Long, Doc] = rows.map(d => d.id -> d).toMap
    val byEmbId: Map[Long, Doc] =
      rows.flatMap(d => d.emb_id.map(_ -> d)).toMap
  }

  /** One ivf_assign layout's inverted lists, from its (cid, vec_id)
    * rows: each list's vec ids in table order. */
  private[core] final class IvfLists(rows: Array[(Long, Long)]) {
    private val byCid: Map[Long, Array[Long]] = rows.groupMap(_._1)(_._2)
    /** Members of the lists `cids`, list by list. */
    def members(cids: Seq[Long]): Array[Long] =
      cids.flatMap(byCid.getOrElse(_, Array.emptyLongArray)).toArray
  }

  /** Above this many vectors `topPairwiseScores` switches from the exact
    * blocked grid (flops grow as n²) to sketch candidates + exact re-rank.
    */
  val PairwiseExactLimit: Long = 200000L

  /** Queued new-doc request inside a bulk-add scope. */
  final case class NewDoc(text: String, parentId: Option[Long],
      meta: Option[String], noEmbedding: Boolean)

  /** The adder handle passed to `bulkAddDocs` bodies (unusable outside
    * the scope — `kb.py:1500`).
    */
  final class DocAdder private[core] (store: KbStore) {
    private val buf = mutable.ArrayBuffer[NewDoc]()
    private var closed = false
    def add(text: String, parentId: Option[Long] = None,
        meta: Option[String] = None, noEmbedding: Boolean = false): Unit = {
      require(!closed, "add_doc called outside its bulk scope")
      buf += NewDoc(text, parentId, meta, noEmbedding)
    }
    private[core] def result: Seq[NewDoc] = { closed = true; buf.toSeq }
  }

  /** Create a fresh store (S1/S8: `kb.py:777-792`, force-fresh
    * `kb.py:1428-1430`).
    */
  def create(spark: SparkSession, path: String,
      embeddingParams: Map[String, String],
      forceFresh: Boolean = false): KbStore = {
    val p = Paths.get(path)
    if (forceFresh) deleteRecursively(p)
    require(!Files.exists(Paths.get(metaPath(path))),
      s"store already exists at $path")
    Files.createDirectories(p)
    import spark.implicits._
    val empty = Seq(
      "docs" -> spark.createDataset(Seq.empty[Doc]).toDF(),
      "embeddings" -> spark.createDataset(Seq.empty[Emb]).toDF(),
      "edges" -> spark.createDataset(Seq.empty[Edge]).toDF(),
      "keyval" -> spark.createDataset(Seq.empty[KV]).toDF())
    empty.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$path/$name/v0")
    }
    val meta = KbMeta(SchemaVersion,
      java.time.Instant.now().toString, embeddingParams, 0L, 0L, 0L,
      TableNames.map(_ -> 0L).toMap)
    writeMetaAtomic(path, meta)
    val kb = new KbStore(spark, path)
    kb.seedSchemas(meta,
      empty.map { case (name, df) => s"$path/$name/v0" -> df.schema })
    kb
  }

  /** One schema-migration step: rewrite a version-`from` store in place
    * to version `from + 1` (tables and/or meta), returning the updated
    * meta to persist. The reference reserves this slot without filling
    * it ("this is where migrations will go", `kb.py:841-853`).
    */
  trait Migration {
    def from: Int
    def apply(spark: SparkSession, path: String, meta: KbMeta): KbMeta
  }

  /** Registered upgrade chain, keyed by source version. Empty today —
    * v1 is the only schema — but `open` walks it so a future v2 ships
    * as one entry here instead of a breaking `require`.
    */
  private val migrations = mutable.Map[Int, Migration]()

  def registerMigration(m: Migration): Unit =
    migrations.synchronized { migrations(m.from) = m }

  /** Open an existing store, validating the schema version and applying
    * any registered migration chain from older versions
    * (`kb.py:841-853`).
    */
  def open(spark: SparkSession, path: String): KbStore = {
    var m = readMeta(path)
    require(m.schema_version <= SchemaVersion,
      s"store schema_version ${m.schema_version} is newer than this " +
        s"library's $SchemaVersion — upgrade the library")
    while (m.schema_version < SchemaVersion) {
      val step = migrations.synchronized(migrations.get(m.schema_version))
        .getOrElse(throw new IllegalStateException(
          s"no migration registered from schema_version ${m.schema_version}"))
      val next = step(spark, path, m)
      require(next.schema_version == m.schema_version + 1,
        s"migration from ${m.schema_version} must advance exactly one version")
      writeMetaAtomic(path, next)
      m = next
    }
    new KbStore(spark, path)
  }

  // ---------------- meta JSON (hand-rolled: zero extra deps) ----------
  private def metaPath(path: String) = s"$path/_meta.json"

  /** Superseded manifests are kept as `_meta.v<N>.json` history files:
    * vacuum's retention keeps every segment the last `retain` prior
    * manifests reference, which is the only chain-aware way to protect
    * an in-flight reader — a merge-on-read state is a SET of version
    * dirs (base + deltas), not one dir, so "keep the previous version
    * directory" stopped being a meaningful unit of retention.
    */
  private[core] def listMetaBackups(path: String): Seq[(Long, Path)] = {
    val re = "_meta\\.v(\\d+)\\.json".r
    val listing =
      try Files.list(Paths.get(path))
      catch { case _: java.io.IOException |
                   _: java.io.UncheckedIOException =>
        java.util.stream.Stream.empty[Path]() }
    try {
      val b = Seq.newBuilder[(Long, Path)]
      listing.forEach { p =>
        p.getFileName.toString match {
          case re(v) => b += (v.toLong -> p)
          case _ => ()
        }
      }
      b.result().sortBy(-_._1)
    } finally listing.close()
  }

  /** Retry cap for the commit paths' publish-conflict loop. */
  private[core] final val CasMaxRetries = 3

  /** Thrown by [[writeMetaAtomic]] when the on-disk manifest moved
    * between a writer's adoption and its publish — retryable (the
    * commit paths re-run adopt→stage→publish, bounded by
    * [[CasMaxRetries]]), unlike the overlap CME which is not. */
  private[core] final class PublishConflict(msg: String)
    extends RuntimeException(msg)

  private[core] def writeMetaAtomic(path: String, m: KbMeta,
      expectVersion: Option[Long] = None): Unit = {
    // preserve the manifest being replaced as a history file BEFORE the
    // swap — a crash between the two writes leaves both intact
    val curPath = Paths.get(metaPath(path))
    // publish-time version check (r8): `expectVersion` is the base the
    // committer adopted; any other on-disk version means a writer
    // landed inside our stage window. Check-then-move is best-effort
    // (no filesystem CAS), but it shrinks the documented race from
    // the whole staging span to microseconds.
    expectVersion.foreach { ev =>
      if (Files.exists(curPath)) {
        val cv = "\"version\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(Files.readString(curPath)).map(_.group(1).toLong)
        if (!cv.contains(ev))
          throw new PublishConflict(
            s"store $path: manifest moved to v${cv.getOrElse(-1L)} while " +
              s"staging against v$ev")
      }
    }
    if (Files.exists(curPath)) {
      try {
        val old = Files.readString(curPath)
        "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(old).foreach { mm =>
          if (mm.group(1).toLong != m.version) {
            // tmp + atomic move, like the manifest itself: a torn
            // backup would later parse-fail inside vacuum and silently
            // void the retention that protects an in-flight reader
            val dst = Paths.get(s"$path/_meta.v${mm.group(1)}.json")
            val tmp = Paths.get(dst.toString + ".tmp")
            Files.writeString(tmp, old)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          }
        }
      } catch { case _: java.io.IOException => () } // advisory history
    }
    writeMetaFile(path, m)
  }

  private def writeMetaFile(path: String, m: KbMeta): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val params = m.embedding_params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val tables = m.table_versions.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val bases = m.table_bases.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val deltas = m.table_deltas.toSeq.sortBy(_._1)
      .map { case (k, vs) => s"${q(k)}: ${vs.mkString("[", ", ", "]")}" }
      .mkString("{", ", ", "}")
    val idxParams = m.index_params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{
         |  "schema_version": ${m.schema_version},
         |  "created_datetime": ${q(m.created_datetime)},
         |  "embedding_params": $params,
         |  "max_doc_id": ${m.max_doc_id},
         |  "max_edge_id": ${m.max_edge_id},
         |  "version": ${m.version},
         |  "table_versions": $tables,
         |  "table_bases": $bases,
         |  "table_deltas": $deltas,
         |  "index_params": $idxParams
         |}""".stripMargin
    val tmp = Paths.get(metaPath(path) + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(metaPath(path)),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[core] def readMeta(path: String): KbMeta =
    parseMeta(Files.readString(Paths.get(metaPath(path))))

  private[core] def parseMeta(json: String): KbMeta = {
    def longField(name: String): Long =
      ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"meta missing $name"))
    def strField(name: String): String =
      ("\"" + name + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(json).map(m => unescape(m.group(1)))
        .getOrElse(throw new IllegalStateException(s"meta missing $name"))
    val params = ("\"embedding_params\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val kvRe = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val paramMap = kvRe.findAllMatchIn(params)
      .map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    val tables = ("\"table_versions\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val numRe = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
    val tableMap = numRe.findAllMatchIn(tables)
      .map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap
    // segment-chain maps (round 6); absent in pre-r6 manifests → empty
    val basesStr = ("\"table_bases\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val baseMap = numRe.findAllMatchIn(basesStr)
      .map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap
    val deltasStr = ("\"table_deltas\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val listRe = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\\[([^\\]]*)\\]".r
    val deltaMap = listRe.findAllMatchIn(deltasStr).map { m =>
      unescape(m.group(1)) ->
        m.group(2).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toLong).toSeq
    }.filter(_._2.nonEmpty).toMap
    val idxStr = ("\"index_params\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val idxMap = kvRe.findAllMatchIn(idxStr)
      .map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    val version = longField("version")
    KbMeta(longField("schema_version").toInt, strField("created_datetime"),
      paramMap, longField("max_doc_id"), longField("max_edge_id"),
      version,
      if (tableMap.nonEmpty) tableMap
      else TableNames.map(_ -> version).toMap,
      baseMap, deltaMap, idxMap)
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  // ---------------- fs helpers ----------------
  /** A NON-EMPTY directory whose immediate children are all `v<N>`
    * (digits-only — `v+3`/`v-1` are NOT store layout) version
    * subdirectories — the layout this store (and only this store)
    * writes for a table. Vacuum's orphan sweep uses it to avoid
    * deleting foreign dirs placed under the store root. An EMPTY
    * directory is deliberately NOT claimed: it might be a foreign
    * tool's freshly-mkdir'd dir about to be populated (reclaiming it
    * would race that writer), so the rare empty dir an interrupted
    * commit mkdir leaves behind is an accepted, bounded leak.
    */
  private[core] def isVersionedTableDir(dir: Path): Boolean = {
    val listing = Files.list(dir)
    try {
      var any = false
      val it = listing.iterator()
      while (it.hasNext) {
        val c = it.next()
        val n = c.getFileName.toString
        if (!Files.isDirectory(c) || !n.startsWith("v") ||
            n.length < 2 || !n.drop(1).forall(_.isDigit)) return false
        any = true
      }
      any
    } finally listing.close()
  }

  /** Delete `p` and everything under it; a no-op when it is absent.
    * The walk's stream holds a directory handle until it is closed. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

}
