package graft

import org.apache.spark.sql.functions._

import graft.ops.SemDedup

/** q94 SemDeDup contracts: planted-duplicate grouping, equality with a
  * driver-side within-cell brute force, partition independence, the
  * trained-quantizer path, and the no-cartesian plan shape. The DuckDB
  * hash-compare (clustering included — deterministic quantizer) is the
  * cross-engine gate.
  */
class SemDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Queries.t(spark, sf, "embeddings")

  test("planted duplicates group under one kept representative") {
    import spark.implicits._
    // 4 centroid-seed vectors (ids 0-3 < nlist) + a planted near-dup
    // pair far from the seeds' directions + an unrelated vector
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val base = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)),
      (2L, v(0, 0, 1, 0)), (3L, v(0, 0, 0, 1)),
      (10L, v(0, 0.99, 0.12, 0)), (11L, v(0, 0.985, 0.13, 0)),
      (12L, v(0.9, -0.4, 0, 0)))
      .toDF("vec_id", "embedding")
    // 0.999: tight enough that the e2 seed itself (cos 0.9927/0.9914 to
    // the planted pair) stays out of the group
    val out = SemDedup.semanticDedup(base, nlist = 4, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    // 10 and 11 share cell 1 (closest to e2) and cosine ~0.99995 >= 0.999; the
    // group representative is the min id
    val grouped = out.filter(r => r._1 == 10L || r._1 == 11L)
    assert(grouped.length === 2, out.mkString(","))
    assert(grouped.forall(_._2 == 10L))
    assert(grouped.collect { case (id, _, k) if k == 1 => id }.toSeq === Seq(10L))
    // 12 is nobody's near-dup at 0.999 -> singleton, omitted
    assert(!out.exists(_._1 == 12L))
  }

  test("equals a driver-side within-cell brute force (grouping + keep flags)") {
    val rows = emb.filter(col("embedding").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // assignment: argmax over first-16 centroids of round(dot/cnorm, 6),
    // min-id ties — the operator's documented quantizer
    val cents = rows.filter(_._1 < 16).sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i).toDouble * b(i); i += 1 }
      d
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    val assigned = rows.map { case (id, v) =>
      val best = cents.map { case (cid, c) =>
        (BigDecimal(dot(v, c) / nrm(c)).setScale(6, BigDecimal.RoundingMode.HALF_UP), cid)
      }.minBy { case (s, cid) => (-s, cid) }
      id -> best._2
    }.toMap
    // within-cell pairs at 4dp cosine >= 0.3, then transitive closure
    val ids = rows.map(_._1)
    val byId = rows.toMap
    val pairs = for {
      a <- ids; b <- ids
      if a < b && assigned(a) == assigned(b)
      c = BigDecimal(dot(byId(a), byId(b)) / (nrm(byId(a)) * nrm(byId(b))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.3
    } yield (a, b)
    val parent = scala.collection.mutable.Map(ids.toIndexedSeq.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expect = inPairs.map(id => (id, assigned(id), find(id), if (find(id) == id) 1 else 0))
    val got = SemDedup.semanticDedup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === expect)
    assert(got.nonEmpty, "no semantic dup groups in the fixture — threshold degenerate")
  }

  test("partition-independent") {
    val a = SemDedup.semanticDedup(emb.repartition(1)).collect().toSeq
    val b = SemDedup.semanticDedup(emb.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("trained quantizer path: Lloyd's-refined cells still group, keep flags stay consistent") {
    val out = SemDedup.semanticDedup(emb, trainIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(out.nonEmpty)
    // exactly one kept representative per group, and it is the min id
    out.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.count(_._3 == 1) === 1, s"group $cid keep count")
      assert(rows.filter(_._3 == 1).head._1 === rows.map(_._1).min)
      assert(cid === rows.map(_._1).min)
    }
  }

  test("plan: within-cell equi-join on list_id — no cartesian, no nested loop") {
    val plan = SemDedup.semanticDedup(emb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  private def split(df: org.apache.spark.sql.DataFrame) = {
    val valid = df.filter(col("embedding").isNotNull)
    (valid.filter(pmod(col("vec_id"), lit(50)) =!= 17),
      valid.filter(pmod(col("vec_id"), lit(50)) === 17))
  }

  test("q98 incremental: materialized-store probe equals the in-memory split form bit-for-bit") {
    val (base, delta) = split(emb)
    val store = tmpDir("semstore").toString
    SemDedup.writeSemanticStore(base, store)
    val inMem = SemDedup.incrementalSemanticDedup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromStore = SemDedup.incrementalSemanticDedupFromStore(store, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inMem.nonEmpty, "no crossing pairs in the fixture — parity is vacuous")
    assert(fromStore === inMem)
  }

  test("merge from store: keep flags bit-equal to a full semanticDedup re-run") {
    val (base, delta) = split(emb)
    val store = tmpDir("semstore2").toString
    SemDedup.writeSemanticStore(base, store)
    val merged = SemDedup.mergeSemanticDedupFromStore(store, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val full = SemDedup.semanticDedup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(merged === full)
    // the merge genuinely crosses the split: at least one dup group
    // holds vec_ids from both sides
    val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
    val byGroup = merged.groupBy(_._3).values
    assert(byGroup.exists(g =>
      g.exists(r => deltaIds(r._1)) && g.exists(r => !deltaIds(r._1))),
      "no dup group crosses the split — merge parity is vacuous")
  }

  test("semantic store lifecycle: delete + compact equals a store rebuilt from the survivors") {
    val (base, delta) = split(emb)
    // deleted set avoids vec_id < nlist so the survivors' first-k
    // quantizer equals the original store's (the q98 split convention)
    val deleted = base.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 16)
    val survivors = base.filter(!(col("vec_id") % 7 === 3 && col("vec_id") >= 16))
    val store = tmpDir("semstore3").toString
    val rebuilt = tmpDir("semrebuilt").toString
    SemDedup.writeSemanticStore(base, store)
    SemDedup.deleteFromSemanticStore(deleted.select("vec_id"), store)
    SemDedup.writeSemanticStore(survivors, rebuilt)

    // probe + merge with tombstones pending == against the rebuilt store
    val wantProbe = SemDedup.incrementalSemanticDedupFromStore(rebuilt, delta)
      .collect().map(_.toSeq).toSeq
    assert(SemDedup.incrementalSemanticDedupFromStore(store, delta)
      .collect().map(_.toSeq).toSeq === wantProbe)
    assert(wantProbe.nonEmpty)
    val wantMerge = SemDedup.mergeSemanticDedupFromStore(rebuilt, delta)
      .collect().map(_.toSeq).toSeq
    assert(SemDedup.mergeSemanticDedupFromStore(store, delta)
      .collect().map(_.toSeq).toSeq === wantMerge)

    // compact: assigned + edges frames bit-equal to the rebuild, log gone
    SemDedup.compactSemanticStore(spark, store)
    import graft.ops.StoreManifest
    def frame(p: String, name: String, schema: String) = {
      val snap = StoreManifest.currentSnapshot(spark, p).get
      StoreManifest.readComponent(spark, p, snap, name, Some(schema)).get
        .collect().map(_.toSeq).toSet
    }
    val aSchema = "vec_id LONG, embedding ARRAY<FLOAT>, nrm DOUBLE, list_id LONG"
    assert(frame(store, "assigned", aSchema) === frame(rebuilt, "assigned", aSchema))
    assert(frame(store, "edges", "a LONG, b LONG") ===
      frame(rebuilt, "edges", "a LONG, b LONG"))
    assert(StoreManifest.currentSnapshot(spark, store).get
      .components.getOrElse("tombstones", Nil).isEmpty)
    assert(SemDedup.incrementalSemanticDedupFromStore(store, delta)
      .collect().map(_.toSeq).toSeq === wantProbe)
  }

  test("incremental probe plan: base streams from the cell-partitioned store, delta broadcast") {
    val (base, delta) = split(emb)
    val store = tmpDir("semstore3").toString
    SemDedup.writeSemanticStore(base, store)
    val df = SemDedup.incrementalSemanticDedupFromStore(store, delta)
    df.collect()
    val exec = df.queryExecution.executedPlan
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
    val fileScans = planLeaves(exec)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    // the probe's base side reads the materialized assignments — the
    // base embeddings table itself contributes no scan to the probe
    assert(fileScans.exists(_.metadata.getOrElse("Location", "")
      .contains("assigned-v")), fileScans.map(_.metadata))
    // the store was written partitionBy(list_id): cell directories exist
    val assignedDir = graft.ops.StoreManifest.currentSnapshot(spark, store).get
      .components("assigned").head
    val dirs = new java.io.File(s"$store/$assignedDir").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("list_id=")), dirs.mkString(","))
  }

  test("semantic store: readAsOf(v) probes the store exactly as of that publish") {
    val (base, delta) = split(emb)
    // fold HALF the delta into the store, probe with the other half
    val deltaA = delta.filter(col("vec_id") % 2 === 0)
    val deltaB = delta.filter(col("vec_id") % 2 === 1)
    val store = tmpDir("semasof").toString
    val baseOnly = tmpDir("semasofbase").toString
    SemDedup.writeSemanticStore(base, store)   // v1
    SemDedup.appendSemanticStore(deltaA, store) // v2
    SemDedup.writeSemanticStore(base, baseOnly)
    val asOf1 = SemDedup
      .incrementalSemanticDedupFromStore(store, deltaB, asOfVersion = Some(1L))
      .collect().map(_.toSeq).toSeq
    assert(asOf1 === SemDedup.incrementalSemanticDedupFromStore(baseOnly, deltaB)
      .collect().map(_.toSeq).toSeq,
      "the v1 snapshot must probe exactly the base-only store")
    assert(asOf1.nonEmpty, "fixture vacuous: no crossings against the v1 base")
    // non-vacuous: the append IS visible at the current version — its
    // assigned component carries exactly the deltaA rows on top of v1's
    import graft.ops.StoreManifest
    val assignedSchema =
      Some("vec_id LONG, embedding ARRAY<FLOAT>, nrm DOUBLE, list_id LONG")
    def assignedCount(snap: StoreManifest.Snapshot): Long =
      StoreManifest.readComponent(spark, store, snap, "assigned", assignedSchema)
        .get.count()
    val v1 = StoreManifest.snapshotAt(spark, store, 1L)
    val cur = StoreManifest.currentSnapshot(spark, store).get
    assert(assignedCount(cur) === assignedCount(v1) + deltaA.count(),
      "current snapshot must carry exactly the appended assignments on top of v1")
    // and v1 crossings survive into the current probe (append-only base)
    val current = SemDedup.incrementalSemanticDedupFromStore(store, deltaB)
      .collect().map(_.toSeq).toSeq
    assert(asOf1.toSet.subsetOf(current.toSet),
      "v1 crossings must survive into the current snapshot's probe")
  }
}
