package graft.ops

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** Versioned-manifest publish protocol shared by the five persisted
  * stores (BM25 postings [[Retrieval]], MinHash signatures [[NearDup]],
  * IVF-PQ codes [[AnnPq]], semantic cells [[SemDedup]], the BPE merge
  * table [[TokenizerStore]]).
  *
  * Each store declares one [[Kind]] — its label, and the reader schema
  * (and partition column) of every component — and runs the whole
  * protocol through it ([[Store]]): `snapshot` (current or as-of),
  * `create`, `append` (streaming watermark), `tombstone`, `replace`,
  * `compact`, and the `read`/`live` component reads. A store keeps only
  * its domain code: what it writes into each component, and how
  * compaction rewrites one.
  *
  * The problem it solves: the r14 store compactors swapped directories
  * with `fs.delete(live); fs.rename(next, live)` — a crash between the
  * two calls leaves NO live copy, and a concurrent reader mid-compact
  * sees a missing store. The lakehouse answer (Iceberg's version-hint /
  * Delta's `_delta_log`, both public designs) is a tiny pointer file:
  * data directories are immutable once written, and the only mutable
  * object in the store is a single manifest file published by one
  * atomic rename.
  *
  * Layout under a store root `dir`:
  * {{{
  *   dir/_manifest/v000000001.json     // snapshot 1 (JSON, one small file)
  *   dir/_manifest/v000000002.json     // snapshot 2 ...
  *   dir/<component>-v<version>/       // immutable parquet data dirs
  * }}}
  *
  * A snapshot names, for every logical component ("postings", "stats",
  * "tombstones", ...), the LIST of data directories that make it up —
  * appends add a directory to the list, compaction replaces the list
  * with one rewritten directory. The current snapshot is simply the
  * highest-numbered manifest file; publishing snapshot v is
  * `write .v<v>.json.tmp; rename → v<v>.json` — one atomic rename, and
  * a conflicting writer fails the exists-check instead of clobbering.
  * There is NO window in which the store is missing or partially
  * swapped: readers that resolved snapshot v keep reading v's
  * directories (nothing ever deletes them except [[vacuum]]), and a
  * crash at ANY point of a mutation leaves either v (orphan data dirs,
  * swept by [[vacuum]]) or v+1 — both fully serveable.
  *
  * Versioned manifests also give snapshot reads for free:
  * `snapshotAt(dir, v)` resolves exactly the store as of publish v
  * (the `readAsOf` the store query paths expose).
  *
  * Streaming exactly-once: the snapshot carries `batchWatermark`, the
  * highest streaming batch id folded into the store. foreachBatch is
  * at-least-once, so a replayed batch arrives with an id ≤ the
  * watermark and is skipped BEFORE any write — the dedup decision and
  * the data publish are the same atomic rename (the admission-ledger
  * discipline of [[graft.streaming.StreamingEtl.runWithBatchReport]],
  * moved into the store itself).
  */
object StoreManifest {

  /** One published store snapshot: `components` maps a logical name to
    * the data directories (relative to the store root, in append
    * order) that compose it; `batchWatermark` is the highest streaming
    * batch id applied (-1 = none).
    */
  final case class Snapshot(
      version: Long,
      batchWatermark: Long,
      components: Map[String, Seq[String]]) {

    /** Next snapshot with one more data dir appended to `name`. */
    def appending(name: String, dirName: String): Snapshot =
      copy(version = version + 1,
        components = components.updated(
          name, components.getOrElse(name, Nil) :+ dirName))
  }

  /** Writes one component's frame into a mutation's data dir. */
  type Writer = (String, DataFrame) => Unit

  /** One kind of persisted store: `label` names it in errors, `schemas`
    * declares the reader schema of every component (a declared read
    * spares parquet one schema-inference job per read, and keeps
    * directory partition columns at their written types), and
    * `partitionBy` names the components written partitioned. The
    * one-column `tombstones` schema names the id the store's rows are
    * keyed by.
    */
  final case class Kind(
      label: String,
      schemas: Map[String, String],
      partitionBy: Map[String, String] = Map.empty) {
    def at(spark: SparkSession, dir: String): Store = new Store(this, spark, dir)
  }

  /** The protocol of one store of `kind` at `dir`. Every mutation
    * writes its data dirs through the writer it is handed — each
    * written frame conformed to the component's declared schema, into
    * a fresh dir named for the new version — then makes ONE publish
    * naming exactly the dirs written; a mutation that writes nothing
    * publishes nothing.
    */
  final class Store private[StoreManifest] (kind: Kind, spark: SparkSession, dir: String) {

    private val Tombstones = "tombstones"

    private def schema(name: String): StructType = StructType.fromDDL(kind.schemas(name))

    /** The current snapshot; None for a store that never published. */
    def current: Option[Snapshot] = currentSnapshot(spark, dir)

    /** The snapshot `asOf` names (the time-travel read), else the
      * current one; fails on a store that never published.
      */
    def snapshot(asOf: Option[Long] = None): Snapshot =
      asOf.map(snapshotAt(spark, dir, _)).orElse(current)
        .getOrElse(sys.error(s"${kind.label} $dir does not exist"))

    /** Component `name` of `snap`, read with its declared schema. */
    def read(snap: Snapshot, name: String): DataFrame =
      readComponent(spark, dir, snap, name, Some(kind.schemas(name)))
        .getOrElse(sys.error(s"${kind.label} $dir has no $name component"))

    /** Component `name` of `snap` minus its tombstoned rows: a broadcast
      * anti-join on each of `idCols` (default: the tombstones' id).
      */
    def live(snap: Snapshot, name: String, idCols: String*): DataFrame =
      if (!tombstoned(snap)) read(snap, name)
      else {
        val cols = if (idCols.isEmpty) schema(Tombstones).fieldNames.toSeq else idCols
        cols.foldLeft(read(snap, name)) { (df, c) =>
          df.join(broadcast(read(snap, Tombstones).toDF(c)), Seq(c), "left_anti")
        }
      }

    /** Whether `snap` holds tombstones (that a [[compact]] would fold). */
    def tombstoned(snap: Snapshot): Boolean = snap.components.contains(Tombstones)

    /** Publish `next(written)` after `write` ran against a writer whose
      * dirs are named by `dirOf`; nothing when nothing was written.
      */
    private def mutate(dirOf: String => String)(write: Writer => Unit)(
        next: Seq[(String, String)] => Snapshot): Unit = {
      val written = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      write { (name, df) =>
        val d = dirOf(name)
        val w = df.select(schema(name).fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
          .write.mode(SaveMode.Overwrite)
        kind.partitionBy.get(name).fold(w)(w.partitionBy(_)).parquet(s"$dir/$d")
        written += name -> d
      }
      if (written.nonEmpty) publish(spark, dir, next(written.toSeq))
    }

    private def fresh(written: Seq[(String, String)]): Map[String, Seq[String]] =
      written.map { case (name, d) => name -> Seq(d) }.toMap

    /** First write: snapshot 1 holds exactly the components written. */
    def create(write: Writer => Unit): Unit = {
      require(current.isEmpty, s"${kind.label} $dir already exists — append or compact instead")
      mutate(componentDir(_, 1L))(write)(ws => Snapshot(1L, -1L, fresh(ws)))
    }

    /** Append the components `write` writes, given the current snapshot,
      * as the next version's dirs. `batchId` is the streaming
      * exactly-once hook: a replayed foreachBatch id ≤ the watermark is
      * skipped before any write; batch calls leave it at -1.
      */
    def append(batchId: Long = -1L)(write: (Snapshot, Writer) => Unit): Unit = {
      val cur = snapshot()
      if (batchId < 0 || batchId > cur.batchWatermark) {
        val v = cur.version + 1
        mutate(componentDir(_, v))(write(cur, _)) { ws =>
          ws.foldLeft(cur) { case (s, (name, d)) => s.appending(name, d) }
            .copy(version = v, batchWatermark = math.max(cur.batchWatermark, batchId))
        }
      }
    }

    /** Tombstone `ids` (a frame holding the store's id column): no data
      * file touched, every [[live]] read drops them from this publish on.
      */
    def tombstone(ids: DataFrame): Unit = append()((_, w) => w(Tombstones, ids))

    /** A whole-artifact version: the components `write` writes REPLACE
      * the snapshot's. Each data dir carries an attempt-unique tag, so
      * racers computing the same version write disjoint dirs and the
      * loser (rejected at publish) can never touch the winner's; its
      * orphan is swept by [[vacuum]]. Returns the published version.
      */
    def replace(write: Writer => Unit): Long = {
      val v = current.fold(1L)(_.version + 1)
      val tag = java.util.UUID.randomUUID().toString.take(8)
      mutate(n => s"${componentDir(n, v)}-$tag")(write)(ws => Snapshot(v, -1L, fresh(ws)))
      v
    }

    /** Fold `snap`'s tombstones into the files: the components `rewrite`
      * writes get fresh dirs, the others are carried by reference, the
      * tombstones are dropped — one publish. Never in place: `snap`'s
      * dirs keep serving through a crash and to as-of readers.
      */
    def compact(snap: Snapshot)(rewrite: Writer => Unit): Unit = {
      val v = snap.version + 1
      mutate(componentDir(_, v))(rewrite) { ws =>
        Snapshot(v, snap.batchWatermark, snap.components - Tombstones ++ fresh(ws))
      }
    }
  }

  private val ManifestName = """v(\d{9})\.json""".r

  private def mdir(dir: String) = new Path(dir, "_manifest")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data-dir name for component `name` written at `version` —
    * immutable once published; a fresh version always gets a fresh dir.
    */
  def componentDir(name: String, version: Long): String =
    f"$name%s-v$version%09d"

  /** The current snapshot: highest-numbered manifest file, or None for
    * a directory that has never published (missing `_manifest`).
    * Half-written `.tmp` files from a crashed publish never match the
    * name pattern, so they are invisible here.
    */
  def currentSnapshot(spark: SparkSession, dir: String): Option[Snapshot] = {
    val fs = fsOf(spark, dir)
    val md = mdir(dir)
    if (!fs.exists(md)) None
    else {
      val versions = fs.listStatus(md).toSeq
        .map(_.getPath.getName)
        .collect { case ManifestName(v) => v.toLong }
      if (versions.isEmpty) None
      else Some(snapshotAt(spark, dir, versions.max))
    }
  }

  /** The store exactly as of publish `version` — the time-travel read.
    * Throws if that manifest was never published (or was vacuumed).
    */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): Snapshot = {
    val fs = fsOf(spark, dir)
    val p = new Path(mdir(dir), f"v$version%09d.json")
    require(fs.exists(p), s"store $dir has no published snapshot v$version")
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    parse(bytes)
  }

  /** Publish `snap` as the next snapshot of `dir`: write the JSON to a
    * dot-tmp file, then ONE atomic rename to its final name. The
    * exists-check + rename-to-fresh-name rejects a concurrent publish
    * of the same version instead of clobbering it (optimistic
    * concurrency — the loser re-reads and retries on top of the
    * winner). Callers must pass version = current + 1.
    */
  def publish(spark: SparkSession, dir: String, snap: Snapshot): Unit = {
    val fs = fsOf(spark, dir)
    val md = mdir(dir)
    fs.mkdirs(md)
    val dst = new Path(md, f"v${snap.version}%09d.json")
    require(!fs.exists(dst),
      s"store $dir: snapshot v${snap.version} already published (concurrent writer?)")
    val tmp = new Path(md, f".v${snap.version}%09d.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(snap)) finally out.close()
    require(fs.rename(tmp, dst), s"store $dir: manifest publish rename failed")
  }

  /** Read one component as a DataFrame — the union of its data dirs
    * (each immutable, so multi-root parquet reads are stable). None if
    * the component has no data dirs in this snapshot. `schema` is the
    * explicit reader schema the partitioned components need (partition
    * columns must keep their written types — the [[SemDedup]] store
    * discipline).
    */
  def readComponent(
      spark: SparkSession,
      dir: String,
      snap: Snapshot,
      name: String,
      schema: Option[String] = None): Option[DataFrame] = {
    val paths = snap.components.getOrElse(name, Nil).map(d => s"$dir/$d")
    if (paths.isEmpty) None
    else {
      // one read PER data dir, unioned: partitioned components (bucket=,
      // list_id= layouts) discover their partition values relative to
      // each dir as its own root — a single multi-path read would
      // reject the differing root names as conflicting structures.
      // Filters still push into every union branch (partition pruning
      // per scan), and the common case is one dir = one plain scan.
      val r = schema.fold(spark.read)(s => spark.read.schema(s))
      Some(paths.map(r.parquet(_)).reduce(_ unionByName _))
    }
  }

  /** Delete data dirs no longer referenced by any of the newest
    * `keepVersions` snapshots, and the manifests older than those.
    * The ONLY destructive call in the protocol — explicitly invoked
    * retention, never part of a mutation. keepVersions ≥ 1 (the
    * current snapshot is always kept serveable).
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1, "vacuum must keep at least the current snapshot")
    val fs = fsOf(spark, dir)
    val md = mdir(dir)
    if (!fs.exists(md)) return
    val versions = fs.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }
      .sorted
    if (versions.isEmpty) return
    val kept = versions.takeRight(keepVersions)
    val keptDirs: Set[String] = kept
      .flatMap(v => snapshotAt(spark, dir, v).components.valuesIterator.flatten.toSeq)
      .toSet
    // sweep unreferenced data dirs (incl. orphans from crashed mutations)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n != "_manifest" && !keptDirs.contains(n)
      }
      .foreach(p => fs.delete(p, true))
    versions.dropRight(keepVersions)
      .foreach(v => fs.delete(new Path(md, f"v$v%09d.json"), false))
  }

  // ---------------------------------------------------------------- JSON

  private val mapper = new ObjectMapper()

  private def render(snap: Snapshot): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", snap.version)
    root.put("batchWatermark", snap.batchWatermark)
    val comps = root.putObject("components")
    // stable key order: the manifest diffs cleanly under version control
    snap.components.toSeq.sortBy(_._1).foreach { case (name, dirs) =>
      val arr = comps.putArray(name)
      dirs.foreach(arr.add)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
  }

  private def parse(bytes: Array[Byte]): Snapshot = {
    val root = mapper.readTree(bytes)
    val comps = Option(root.get("components"))
      .map { c: JsonNode =>
        c.properties().asScala.map { e =>
          e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
        }.toMap
      }
      .getOrElse(Map.empty[String, Seq[String]])
    Snapshot(root.get("version").asLong(),
      Option(root.get("batchWatermark")).map(_.asLong()).getOrElse(-1L),
      comps)
  }
}
