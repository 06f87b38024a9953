package graft

import graft.ops.StoreManifest
import graft.ops.StoreManifest.Snapshot

/** Contract for the versioned-manifest publish protocol shared by the
  * four persisted stores: atomic single-file publish, highest-version
  * resolution, crash-state invisibility (orphan data dirs and torn
  * `.tmp` manifests never resolve), time travel, conflict rejection,
  * and vacuum retention.
  */
class StoreManifestSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("manifest").toString

  test("fresh directory has no snapshot; publish v1 resolves") {
    val dir = tmp()
    assert(StoreManifest.currentSnapshot(spark, dir).isEmpty)
    StoreManifest.publish(spark, dir,
      Snapshot(1L, -1L, Map("data" -> Seq("data-v000000001"))))
    val snap = StoreManifest.currentSnapshot(spark, dir).get
    assert(snap.version === 1L)
    assert(snap.batchWatermark === -1L)
    assert(snap.components === Map("data" -> Seq("data-v000000001")))
  }

  test("the current snapshot is the highest version; snapshotAt time-travels") {
    val dir = tmp()
    StoreManifest.publish(spark, dir, Snapshot(1L, -1L, Map("d" -> Seq("d-1"))))
    StoreManifest.publish(spark, dir,
      Snapshot(2L, 5L, Map("d" -> Seq("d-1", "d-2"))))
    StoreManifest.publish(spark, dir, Snapshot(3L, 7L, Map("d" -> Seq("d-3"))))
    assert(StoreManifest.currentSnapshot(spark, dir).get.version === 3L)
    assert(StoreManifest.snapshotAt(spark, dir, 2L) ===
      Snapshot(2L, 5L, Map("d" -> Seq("d-1", "d-2"))))
    intercept[IllegalArgumentException] {
      StoreManifest.snapshotAt(spark, dir, 9L)
    }
  }

  test("publishing an already-taken version is rejected, not clobbered") {
    val dir = tmp()
    StoreManifest.publish(spark, dir, Snapshot(1L, -1L, Map("d" -> Seq("d-1"))))
    intercept[IllegalArgumentException] {
      StoreManifest.publish(spark, dir, Snapshot(1L, -1L, Map("d" -> Seq("LOSER"))))
    }
    assert(StoreManifest.currentSnapshot(spark, dir).get
      .components("d") === Seq("d-1"))
  }

  test("a torn .tmp manifest from a crashed publish is invisible") {
    val dir = tmp()
    StoreManifest.publish(spark, dir, Snapshot(1L, -1L, Map("d" -> Seq("d-1"))))
    val torn = new java.io.FileOutputStream(s"$dir/_manifest/.v000000002.json.tmp")
    torn.write("{\"version\": 2, \"compo".getBytes)
    torn.close()
    assert(StoreManifest.currentSnapshot(spark, dir).get.version === 1L)
  }

  test("appending builds the next snapshot's component lists") {
    val s = Snapshot(3L, -1L, Map("a" -> Seq("a-1")))
      .appending("a", "a-4").appending("b", "b-4")
    assert(s.version === 5L) // each appending bumps; callers then pin with copy
    assert(s.components === Map("a" -> Seq("a-1", "a-4"), "b" -> Seq("b-4")))
  }

  test("readComponent unions multi-dir components and honors explicit schemas") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/d-v000000001")
    Seq((2L, "y")).toDF("id", "v").write.parquet(s"$dir/d-v000000002")
    StoreManifest.publish(spark, dir,
      Snapshot(1L, -1L, Map("d" -> Seq("d-v000000001"))))
    StoreManifest.publish(spark, dir,
      Snapshot(2L, -1L, Map("d" -> Seq("d-v000000001", "d-v000000002"))))
    val cur = StoreManifest.currentSnapshot(spark, dir).get
    val rows = StoreManifest
      .readComponent(spark, dir, cur, "d", Some("id LONG, v STRING")).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set(1L -> "x", 2L -> "y"))
    // snapshot reads see only their own dirs
    val v1 = StoreManifest.snapshotAt(spark, dir, 1L)
    assert(StoreManifest.readComponent(spark, dir, v1, "d").get.count() === 1L)
    assert(StoreManifest.readComponent(spark, dir, cur, "absent").isEmpty)
  }

  test("vacuum keeps the retained snapshots' dirs, sweeps orphans and old manifests") {
    import spark.implicits._
    val dir = tmp()
    Seq(1L).toDF("id").write.parquet(s"$dir/d-v000000001")
    Seq(2L).toDF("id").write.parquet(s"$dir/d-v000000002")
    Seq(9L).toDF("id").write.parquet(s"$dir/orphan-v000000009") // crashed mutation
    StoreManifest.publish(spark, dir,
      Snapshot(1L, -1L, Map("d" -> Seq("d-v000000001"))))
    StoreManifest.publish(spark, dir,
      Snapshot(2L, -1L, Map("d" -> Seq("d-v000000002"))))
    StoreManifest.vacuum(spark, dir, keepVersions = 1)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names === Set("_manifest", "d-v000000002"))
    // dotfiles excluded: the local ChecksumFileSystem keeps a hidden
    // .crc sidecar for the live manifest (deleted with its file)
    assert(new java.io.File(s"$dir/_manifest").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet ===
      Set("v000000002.json"))
    intercept[IllegalArgumentException] {
      StoreManifest.vacuum(spark, dir, keepVersions = 0)
    }
  }

  // ------------------------------------------------ the generic protocol

  private val TestKind = StoreManifest.Kind("test store", Map(
    "rows" -> "id LONG, v STRING",
    "edges" -> "a LONG, b LONG",
    "meta" -> "k STRING",
    "tombstones" -> "id LONG"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def dataDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_manifest").toSet

  /** A test store at v1: rows 1..4, edges over them, one meta row. */
  private def seeded(): (String, StoreManifest.Store) = {
    import spark.implicits._
    val dir = tmp()
    val store = TestKind.at(spark, dir)
    store.create { w =>
      w("rows", (1L to 4L).map(i => (i, s"r$i")).toDF("id", "v"))
      w("edges", Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b"))
      w("meta", Seq("m").toDF("k"))
    }
    (dir, store)
  }

  test("a replayed batchId publishes nothing and writes no dir") {
    import spark.implicits._
    val (dir, store) = seeded()
    store.append(batchId = 3L)((_, w) => w("rows", Seq((5L, "r5")).toDF("id", "v")))
    val after = store.snapshot()
    val dirs = dataDirs(dir)
    for (id <- Seq(0L, 3L))
      store.append(batchId = id)((_, _) => fail(s"replayed batch $id ran its write"))
    assert(store.snapshot() === after)
    assert(after.batchWatermark === 3L)
    assert(dataDirs(dir) === dirs)
  }

  test("a crash between the data write and the publish leaves the prior snapshot serving; a retry publishes over the orphan") {
    import spark.implicits._
    val (dir, store) = seeded()
    val before = store.snapshot()
    intercept[IllegalStateException] {
      store.append() { (_, w) =>
        w("rows", Seq((99L, "orphan")).toDF("id", "v"))
        throw new IllegalStateException("crash before the publish")
      }
    }
    assert(dataDirs(dir).contains("rows-v000000002"), "the crashed write left no orphan")
    assert(store.snapshot() === before)
    assert(rowsOf(store.read(store.snapshot(), "rows")).map(_.head) === Set(1L, 2L, 3L, 4L))
    store.append()((_, w) => w("rows", Seq((5L, "r5")).toDF("id", "v")))
    val retried = store.snapshot()
    assert(retried.version === 2L)
    assert(retried.components("rows") === Seq("rows-v000000001", "rows-v000000002"))
    assert(rowsOf(store.read(retried, "rows")).map(_.head) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("compact rewrites what it writes, carries the rest by reference and drops the tombstones") {
    import spark.implicits._
    val (_, store) = seeded()
    store.tombstone(Seq(2L).toDF("id"))
    val cur = store.snapshot()
    assert(store.tombstoned(cur) && cur.version === 2L)
    store.compact(cur)(_("rows", store.live(cur, "rows")))
    val compacted = store.snapshot()
    assert(compacted.version === 3L)
    assert(compacted.components === Map(
      "rows" -> Seq("rows-v000000003"),
      "edges" -> cur.components("edges"),
      "meta" -> cur.components("meta")))
    assert(!store.tombstoned(compacted))
    assert(rowsOf(store.read(compacted, "rows")).map(_.head) === Set(1L, 3L, 4L))
  }

  test("live anti-joins the tombstones on every id column it names") {
    import spark.implicits._
    val (_, store) = seeded()
    store.tombstone(Seq(1L, 3L).toDF("id"))
    val snap = store.snapshot()
    assert(rowsOf(store.live(snap, "edges", "a")) === Set(Seq(2L, 3L)))
    assert(rowsOf(store.live(snap, "edges", "a", "b")) === Set.empty[Seq[Any]])
    assert(rowsOf(store.live(snap, "rows")).map(_.head) === Set(2L, 4L))
  }

  test("an as-of read of a compacted store serves the pre-compact rows") {
    import spark.implicits._
    val (_, store) = seeded()
    store.tombstone(Seq(4L).toDF("id"))
    val pre = store.snapshot()
    val preRows = rowsOf(store.read(pre, "rows"))
    val preLive = rowsOf(store.live(pre, "rows"))
    store.compact(pre)(_("rows", store.live(pre, "rows")))
    val asOf = store.snapshot(Some(pre.version))
    assert(asOf === pre)
    assert(rowsOf(store.read(asOf, "rows")) === preRows)
    assert(preRows.map(_.head) === Set(1L, 2L, 3L, 4L))
    assert(rowsOf(store.live(asOf, "rows")) === preLive)
    assert(rowsOf(store.read(store.snapshot(), "rows")) === preLive)
  }
}
