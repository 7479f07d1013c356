package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.MetaCatalog

/** Catalog invariants that the engine's guards depend on: field-wise
  * parameter merging on sketch upserts (neither the batch builder nor a
  * streaming maintainer may drop the other's fields) and the explicit
  * version counter that carries upsertSketchMerging's CAS.
  */
class MetaCatalogSpec extends AnyFunSuite {

  private def freshCatalog =
    new MetaCatalog(Files.createTempDirectory("graft-cat-test").toString)

  test("mergeParams: next wins per field, prev-only fields carry forward") {
    val c = freshCatalog
    assert(c.mergeParams("""{"buckets":64,"rows":1000}""",
      """{"buckets":64,"last_batch":3}""")
      == """{"buckets":64,"rows":1000,"last_batch":3}""")
    assert(c.mergeParams("""{"b":12}""", """{"b":14,"rows":5}""")
      == """{"b":14,"rows":5}""")
    assert(c.mergeParams("{}", """{"x":"y z"}""") == """{"x":"y z"}""")
  }

  test("stream maintenance preserves the batch builder's rows field (freshness guard survives)") {
    val c = freshCatalog
    // batch build records rows (the engine's freshness evidence)
    c.upsertSketch(c.SketchInfo("t", "x", "histogram",
      Array[Byte](1), """{"buckets":8,"rows":100}""", 1L))
    // streaming maintainer owns only buckets/last_batch
    val merged = c.upsertSketchMerging(c.SketchInfo("t", "x", "histogram",
      Array[Byte](2), """{"buckets":8,"last_batch":7}""", 2L))(
      (a, b) => a ++ b)
    assert(merged.parameters.contains(""""rows":100"""), merged.parameters)
    assert(merged.parameters.contains(""""last_batch":7"""), merged.parameters)
    // a later batch REBUILD must not drop last_batch either, or a
    // replayed stream batch would double-count
    c.upsertSketch(c.SketchInfo("t", "x", "histogram",
      Array[Byte](3), """{"buckets":8,"rows":150}""", 3L))
    val after = c.getSketch("t", "x", "histogram").get
    assert(after.parameters.contains(""""rows":150"""), after.parameters)
    assert(after.parameters.contains(""""last_batch":7"""), after.parameters)
  }

  test("version increments on every write of the same key (explicit CAS token)") {
    val c = freshCatalog
    c.upsertSketch(c.SketchInfo("t", "x", "hyperloglog",
      Array[Byte](1), """{"b":12}""", 1L))
    assert(c.getSketch("t", "x", "hyperloglog").get.version == 0L)
    c.upsertSketchMerging(c.SketchInfo("t", "x", "hyperloglog",
      Array[Byte](2), """{"b":12}""", 2L))((a, b) => a ++ b)
    assert(c.getSketch("t", "x", "hyperloglog").get.version == 1L)
    c.upsertSketch(c.SketchInfo("t", "x", "hyperloglog",
      Array[Byte](3), """{"b":12}""", 3L))
    assert(c.getSketch("t", "x", "hyperloglog").get.version == 2L)
  }

  test("concurrent merging writers never lose a batch") {
    val c = freshCatalog
    val writers = (1 to 8).map { i =>
      new Thread(() => (1 to 50).foreach { _ =>
        c.upsertSketchMerging(c.SketchInfo("t", "x", "ctr",
          Array[Byte](1), s"""{"w":$i}""", i.toLong)) { (a, b) =>
          // one-byte counter: merge = sum (commutative, like histogram add)
          Array[Byte]((a(0) + b(0)).toByte)
        }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    val s = c.getSketch("t", "x", "ctr").get
    assert(s.data(0) == (8 * 50).toByte, s.data(0))
    assert(s.version == (8 * 50 - 1).toLong, s.version)
  }

  // ---------------------------------------------------------------
  // round 15: durability (the one capability the SQLite reference had
  // that rounds 1-14 lacked — storage.py:18,37-85 survives a restart)
  // ---------------------------------------------------------------

  test("restart law: every registry and sketch blob survives a new catalog over the same workDir") {
    val dir = Files.createTempDirectory("graft-cat-restart").toString
    val c1 = new MetaCatalog(dir)
    c1.upsertTableStats("orders", 1500L)
    c1.upsertSketch(c1.SketchInfo("orders", "o_custkey", "hyperloglog",
      Array[Byte](1, 2, 3), """{"b":12,"rows":1500}""", 42L))
    c1.addSample(c1.SampleInfo("orders", "orders__sample_0_1", 0.1, None,
      s"$dir/samples/orders__sample_0_1", 43L, baseRows = Some(1500L)))
    c1.putStrata("orders__sample_0_1", Seq(
      c1.StratumInfo("orders__sample_0_1", "all", 1500L, 150L, 0.1, 10.0,
        0.0)))
    c1.upsertKeySkew("orders", "o_custkey", 1500L, 100L, 400L)
    c1.upsertMeasureSkew("orders", "o_totalprice", 1500L, 500L, 60000L)

    // a FRESH session over the same workDir (no shared driver memory)
    val c2 = new MetaCatalog(dir)
    assert(c2.statsFor("orders").map(_.rowCount).contains(1500L))
    val sk = c2.getSketch("orders", "o_custkey", "hyperloglog").get
    assert(sk.data.toSeq == Seq[Byte](1, 2, 3) && sk.createdAt == 42L &&
      sk.parameters == """{"b":12,"rows":1500}""" && sk.version == 0L)
    val sm = c2.sampleByName("orders__sample_0_1").get
    assert(sm.fraction == 0.1 && sm.baseRows.contains(1500L) &&
      sm.createdAt == 43L)
    assert(c2.bestUniformSample("orders").map(_.sampleTable)
      .contains("orders__sample_0_1"))
    assert(c2.strataFor("orders__sample_0_1").head.sampleSize == 150L)
    assert(c2.keySkewFor("orders", "o_custkey").map(_.maxKeyRows)
      .contains(400L))
    assert(c2.measureSkewFor("orders", "o_totalprice").map(_.topSharePpm)
      .contains(60000L))

    // version continues from the persisted value, not from 0
    c2.upsertSketch(c2.SketchInfo("orders", "o_custkey", "hyperloglog",
      Array[Byte](9), """{"b":12}""", 44L))
    assert(c2.getSketch("orders", "o_custkey", "hyperloglog").get.version == 1L)

    // an append AFTER reload still retires the sample (freshness guard
    // reads reloaded state exactly like live state)
    c2.upsertTableStats("orders", 2000L)
    assert(c2.bestUniformSample("orders").isEmpty)
  }

  test("two catalogs over one workDir: interleaved merging upserts lose no batch (multi-process CAS)") {
    val dir = Files.createTempDirectory("graft-cat-2proc").toString
    val a = new MetaCatalog(dir)
    val b = new MetaCatalog(dir)
    // interleave: each "process" folds 40 one-unit batches
    val writers = Seq(a, b).zipWithIndex.map { case (cat, i) =>
      new Thread(() => (1 to 40).foreach { _ =>
        cat.upsertSketchMerging(cat.SketchInfo("t", "x", "ctr",
          Array[Byte](1), s"""{"w":$i}""", i.toLong)) { (p, n) =>
          Array[Byte]((p(0) + n(0)).toByte)
        }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    // cross-process read visibility is reload-based (each instance's
    // cache reflects boot + its own writes); the WRITE path is what
    // must never lose a batch — both instances and a fresh catalog
    // agree on the full fold after reload
    a.reload(); b.reload()
    assert(a.getSketch("t", "x", "ctr").get.data(0) == 80.toByte)
    assert(b.getSketch("t", "x", "ctr").get.data(0) == 80.toByte)
    val c3 = new MetaCatalog(dir)
    val s = c3.getSketch("t", "x", "ctr").get
    assert(s.data(0) == 80.toByte, s.data(0))
    assert(s.version == 79L, s.version)
  }

  test("a REAL second JVM's merging upserts interleave with ours: no lost batch (OS file locks, not just the JVM monitor)") {
    val dir = Files.createTempDirectory("graft-cat-xproc").toString
    val cat = new MetaCatalog(dir)
    // MetaCatalog is pure java.nio — the child needs no Spark session,
    // just the test classpath
    val java = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(java, "-cp",
      System.getProperty("java.class.path"),
      "graft.tools.CatalogStress", dir, "40")
      .redirectErrorStream(true).start()
    (1 to 40).foreach { _ =>
      cat.upsertSketchMerging(cat.SketchInfo("t", "x", "ctr",
        Array[Byte](1), """{"proc":"parent"}""", 1L)) { (a, b) =>
        Array[Byte]((a(0) + b(0)).toByte)
      }
    }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child failed: $out")
    cat.reload()
    val s = cat.getSketch("t", "x", "ctr").get
    assert(s.data(0) == 80.toByte, s"${s.data(0)} (child said: $out)")
    assert(s.version == 79L, s.version)
    // both writers' parameter fields survived the field-wise merge
    assert(s.parameters.contains("\"proc\""), s.parameters)
  }

  test("GC: dropSample reclaims the data and state directories; dropSketch deletes the blob file") {
    val dir = Files.createTempDirectory("graft-cat-gc").toString
    val c = new MetaCatalog(dir)
    val p = java.nio.file.Paths.get(c.samplesDir, "t__sample_0_1")
    Files.createDirectories(p)
    Files.write(p.resolve("part-0.parquet"), Array[Byte](1))
    val st = java.nio.file.Paths.get(p.toString + "__state")
    Files.createDirectories(st)
    c.addSample(c.SampleInfo("t", "t__sample_0_1", 0.1, None, p.toString,
      1L, baseRows = Some(10L)))
    c.putStrata("t__sample_0_1", Seq(
      c.StratumInfo("t__sample_0_1", "all", 10L, 1L, 0.1, 10.0, 0.0)))
    c.dropSample("t__sample_0_1")
    assert(c.sampleByName("t__sample_0_1").isEmpty)
    assert(c.strataFor("t__sample_0_1").isEmpty)
    assert(!Files.exists(p) && !Files.exists(st))
    // and the removal is durable
    assert(new MetaCatalog(dir).sampleByName("t__sample_0_1").isEmpty)
    // the windowed outlier maintainer keeps its state in `<path>__wstate`
    val wp = java.nio.file.Paths.get(c.samplesDir, "t__outlier_v")
    Files.createDirectories(wp)
    val wst = java.nio.file.Paths.get(wp.toString + "__wstate")
    Files.createDirectories(wst)
    Files.write(wst.resolve("part-0.parquet"), Array[Byte](1))
    c.addSample(c.SampleInfo("t", "t__outlier_v", 0.1,
      Some("__outlier__v"), wp.toString, 1L, baseRows = Some(10L)))
    c.dropSample("t__outlier_v")
    assert(c.sampleByName("t__outlier_v").isEmpty)
    assert(!Files.exists(wp) && !Files.exists(wst))

    c.upsertSketch(c.SketchInfo("t", "x", "hyperloglog", Array[Byte](1),
      "{}", 1L))
    c.dropSketch("t", "x", "hyperloglog")
    assert(c.getSketch("t", "x", "hyperloglog").isEmpty)
    assert(new MetaCatalog(dir).getSketch("t", "x", "hyperloglog").isEmpty)
  }

  test("GC: vacuum drops exactly the stale entries and disk agrees with the listing") {
    val dir = Files.createTempDirectory("graft-cat-vac").toString
    val c = new MetaCatalog(dir)
    def mkSample(name: String, base: Long): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(c.samplesDir, name)
      Files.createDirectories(p)
      c.addSample(c.SampleInfo("t", name, 0.1, None, p.toString, 1L,
        baseRows = Some(base)))
      p
    }
    val fresh = mkSample("t__sample_0_1", 100L)
    val stale = mkSample("t__sample_0_05", 90L)
    c.upsertTableStats("t", 100L)
    c.upsertSketch(c.SketchInfo("t", "x", "hyperloglog", Array[Byte](1),
      """{"rows":90}""", 1L)) // stale (rows != 100)
    c.upsertSketch(c.SketchInfo("t", "y", "hyperloglog", Array[Byte](1),
      """{"rows":100}""", 1L)) // fresh
    c.upsertSketch(c.SketchInfo("t", "z", "bottomkw_state", Array[Byte](1),
      """{"maxus":5}""", 1L)) // maintainer state — never vacuumed
    // a RIDER records a running "rows" that legitimately disagrees with
    // a batch builder's stats — maintainer state is exempt BY TYPE, not
    // by the accident of carrying no rows evidence
    c.upsertSketch(c.SketchInfo("t", "w", "bottomk_rider", Array[Byte](1),
      """{"rows":90,"k":64}""", 1L))
    val (ds, dk) = c.vacuum("t")
    assert(ds == Seq("t__sample_0_05"), ds)
    assert(dk == Seq(("t", "x", "hyperloglog")), dk)
    assert(Files.exists(fresh) && !Files.exists(stale))
    assert(c.listSketches(Some("t")).map(_.columnName).sorted ==
      Seq("w", "y", "z"))
    // catalog listing and disk agree after a reload
    val c2 = new MetaCatalog(dir)
    assert(c2.listSketches(Some("t")).map(_.columnName).sorted ==
      Seq("w", "y", "z"))
    assert(c2.samplesFor("t").map(_.sampleTable) == Seq("t__sample_0_1"))
  }

  test("GC: a stale sample with live maintainer state is NOT auto-vacuumed") {
    val dir = Files.createTempDirectory("graft-cat-vacm").toString
    val c = new MetaCatalog(dir)
    val p = java.nio.file.Paths.get(c.samplesDir, "t__bottomkw_id")
    Files.createDirectories(p)
    Files.createDirectories(java.nio.file.Paths.get(p.toString + "__state"))
    c.addSample(c.SampleInfo("t", "t__bottomkw_id", 0.5,
      Some("__bottomk__id"), p.toString, 1L, baseRows = Some(50L)))
    c.upsertTableStats("t", 200L) // the batch builder's stats bump
    assert(c.vacuumStaleSamples("t")() == Nil)
    assert(c.sampleByName("t__bottomkw_id").isDefined && Files.exists(p))
    // the windowed outlier maintainer's live state is `<path>__wstate`
    val wp = java.nio.file.Paths.get(c.samplesDir, "t__outlier_v")
    Files.createDirectories(wp)
    Files.createDirectories(java.nio.file.Paths.get(wp.toString + "__wstate"))
    c.addSample(c.SampleInfo("t", "t__outlier_v", 0.5,
      Some("__outlier__v"), wp.toString, 1L, baseRows = Some(50L)))
    assert(c.vacuumStaleSamples("t")() == Nil)
    assert(c.sampleByName("t__outlier_v").isDefined && Files.exists(wp))
  }
}
