package graft.catalog

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.concurrent.TrieMap

/** Engine metadata catalog — the Spark-side analogue of the reference's
  * four SQLite metadata tables (`aqe_table_stats`, `aqe_samples`,
  * `aqe_sketches`, `aqe_strata_info`; /root/reference/storage.py:37-85).
  *
  * DURABLE since round 15 (the reference — SQLite-backed — survived a
  * process restart; the driver-memory TrieMaps of rounds 1-14 did not):
  * every upsert writes through to `workDir` and construction loads what
  * a previous session persisted, so sketch blobs (hours of build work
  * at 100 TB), the sample registry, strata, and skew stats all survive
  * a restart — `new MetaCatalog(sameWorkDir)` in a fresh session serves
  * the same zero-scan answers, and a table append after reload still
  * retires them through the unchanged freshness guards.
  *
  * Layout under `workDir`:
  *   - `samples/` — sample DATA parquet (distributed storage at cluster
  *     scale), exactly as before;
  *   - `meta/` (one `.bin` per registry) — the small registries, each a length-prefixed
  *     whole-file snapshot rewritten under the catalog lock (they are
  *     tiny: one record per table/sample/stratum);
  *   - `sketchblobs/<key>.gsk` — ONE file per (table, column, type)
  *     sketch, so concurrent maintainers of different keys never
  *     contend and a single key's update is one small atomic rename.
  *
  * Concurrency: every mutation runs under (a) a JVM-global monitor per
  * lock-file path — serializing threads and same-process catalogs —
  * and (b) an OS `FileLock` on that path — serializing PROCESSES
  * sharing the workDir. Inside the lock the CURRENT value is re-read
  * from disk, the op applied, and the file replaced via
  * write-temp + atomic rename; `version` increments per write, so
  * `upsertSketchMerging`'s compare-and-swap invariant (no lost batch
  * between two concurrent maintainers) now holds across processes, not
  * just across threads. Plain reads stay in driver memory (loaded at
  * boot, refreshed by every local write; `getSketch` falls through to
  * disk on a miss so another process's new blob is visible without a
  * reload).
  */
final class MetaCatalog(val workDir: String) {

  case class TableStats(tableName: String, rowCount: Long, updatedAt: Long)
  /** `baseRows` is the base table's rowcount AT SAMPLE-CREATION time —
    * the serving lookups compare it against the current table stats and
    * skip samples whose base has since grown or shrunk (the same
    * freshness policy as the engine's sketch guard: with no recorded
    * count or no table stats there is no evidence of staleness and the
    * sample serves).
    */
  case class SampleInfo(tableName: String, sampleTable: String,
      fraction: Double, strataColumn: Option[String], path: String,
      createdAt: Long, baseRows: Option[Long] = None)
  /** `version` increases monotonically on every catalog write of the
    * same (table, column, type) key; upsertSketchMerging's CAS compares
    * on it, so the compare-and-swap invariant is carried by an explicit
    * structural field rather than by Array[Byte]'s accidental
    * reference-equality semantics.
    */
  case class SketchInfo(tableName: String, columnName: String,
      sketchType: String, data: Array[Byte], parameters: String,
      createdAt: Long, version: Long = 0L) {
    /** One field of the flat params, unquoted (see [[MetaCatalog.param]]). */
    def param(key: String): Option[String] = MetaCatalog.param(parameters, key)
    def paramLong(key: String): Option[Long] = param(key).flatMap(_.toLongOption)
    def paramDouble(key: String): Option[Double] =
      param(key).flatMap(_.toDoubleOption)
  }
  case class StratumInfo(sampleTable: String, strataValue: String,
      popSize: Long, sampleSize: Long, fraction: Double, weight: Double,
      variance: Double)

  /** Key-distribution statistics the q65 detector produces and the
    * salted-aggregate chooser consumes (SaltRewrite) — the catalog row
    * that closes the detect → persist → re-plan skew loop.
    */
  case class KeySkew(tableName: String, columnName: String, nRows: Long,
      nKeys: Long, maxKeyRows: Long, topSharePpm: Long, updatedAt: Long)

  /** Measure-distribution statistics the outlier detector produces
    * (QueryEngine.profileMeasureSkew) and the outlier-sample advisor
    * consumes: the share of the column's total ABSOLUTE mass held by
    * its top-k rows, in ppm. A heavy-tailed measure (top 500 rows ≥ 5%
    * of the mass) is exactly where uniform sampling's SUM variance
    * blows up and the outlier index pays.
    */
  case class MeasureSkew(tableName: String, columnName: String,
      nRows: Long, topK: Long, topSharePpm: Long, updatedAt: Long)

  private val tableStats = TrieMap.empty[String, TableStats]
  private val samples = TrieMap.empty[String, SampleInfo] // key = sampleTable
  private val sketches = TrieMap.empty[(String, String, String), SketchInfo]
  private val strata = TrieMap.empty[String, Seq[StratumInfo]]
  private val keySkew = TrieMap.empty[(String, String), KeySkew]
  private val measureSkew = TrieMap.empty[(String, String), MeasureSkew]

  private val metaDir = Paths.get(workDir, "meta")
  private val blobDir = Paths.get(workDir, "sketchblobs")
  Files.createDirectories(Paths.get(workDir))
  Files.createDirectories(metaDir)
  Files.createDirectories(blobDir)
  // NOTE: the load-on-boot reload() call sits at the END of the class
  // body — constructor statements run in declaration order, and the
  // file-path vals below must initialize first.

  def samplesDir: String = s"$workDir/samples"

  // ---------------------------------------------------------------
  // persistence plumbing
  // ---------------------------------------------------------------

  /** Thread+process exclusive section on `lockFile`: a JVM-global
    * monitor (FileLock throws OverlappingFileLockException on
    * same-process re-entry, so threads must serialize BEFORE the OS
    * lock) wrapping an OS file lock (advisory, but every writer is
    * this class, so advisory is binding).
    */
  private def locked[T](lockFile: Path)(body: => T): T = {
    val monitor = MetaCatalog.jvmLocks.getOrElseUpdate(
      lockFile.toAbsolutePath.normalize.toString, new Object)
    monitor.synchronized {
      val ch = FileChannel.open(lockFile, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    }
  }

  private def metaLock = metaDir.resolve(".lock")

  /** Write-temp + fsync + atomic rename: readers never observe a torn
    * file, and a crash mid-write leaves the previous snapshot intact.
    * The temp file is FORCED to disk before the rename and the parent
    * directory entry after it (best-effort — not every filesystem
    * allows a directory fd), so the guarantee holds across OS/power
    * failure too, not just process crashes — readFile escalates any
    * torn registry to an IllegalStateException, so a post-reboot
    * empty-or-torn rename target would otherwise brick the catalog
    * (the reference's SQLite backend fsyncs for the same reason). A
    * failed write deletes its temp file — retrying maintainers must
    * not litter the directory with one orphan per attempt.
    */
  private def writeAtomic(target: Path)(body: DataOutputStream => Unit): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString +
      s".tmp-${ProcessHandle.current.pid}-${Thread.currentThread.getId}")
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      val out = new DataOutputStream(new BufferedOutputStream(
        java.nio.channels.Channels.newOutputStream(ch)))
      try { body(out); out.flush(); ch.force(true) } finally out.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      MetaCatalog.fsyncDir(target.getParent)
    } catch {
      case t: Throwable =>
        try Files.deleteIfExists(tmp)
        catch { case _: java.io.IOException => () }
        throw t
    }
  }

  private def readFile[T](path: Path)(body: DataInputStream => T): Option[T] =
    if (!Files.exists(path)) None
    else {
      val in = new DataInputStream(new BufferedInputStream(
        Files.newInputStream(path)))
      try Some(body(in))
      catch {
        case e: java.io.IOException =>
          // a torn file cannot happen under the atomic-rename protocol;
          // anything unreadable is surfaced, not silently dropped
          throw new IllegalStateException(s"corrupt catalog file $path", e)
      } finally in.close()
    }

  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    out.writeInt(b.length); out.write(b)
  }
  private def readStr(in: DataInputStream): String = {
    val n = in.readInt(); val b = new Array[Byte](n); in.readFully(b)
    new String(b, StandardCharsets.UTF_8)
  }
  private def writeOptStr(out: DataOutputStream, s: Option[String]): Unit = {
    out.writeBoolean(s.isDefined); s.foreach(writeStr(out, _))
  }
  private def readOptStr(in: DataInputStream): Option[String] =
    if (in.readBoolean()) Some(readStr(in)) else None
  private def writeOptLong(out: DataOutputStream, v: Option[Long]): Unit = {
    out.writeBoolean(v.isDefined); v.foreach(out.writeLong)
  }
  private def readOptLong(in: DataInputStream): Option[Long] =
    if (in.readBoolean()) Some(in.readLong()) else None

  private val statsFile = metaDir.resolve("table_stats.bin")
  private val samplesFile = metaDir.resolve("samples.bin")
  private val strataFile = metaDir.resolve("strata.bin")
  private val keySkewFile = metaDir.resolve("key_skew.bin")
  private val measureSkewFile = metaDir.resolve("measure_skew.bin")

  private def saveStats(): Unit = writeAtomic(statsFile) { out =>
    out.writeInt(tableStats.size)
    tableStats.values.foreach { t =>
      writeStr(out, t.tableName); out.writeLong(t.rowCount)
      out.writeLong(t.updatedAt)
    }
  }
  private def loadStats(): Unit = readFile(statsFile) { in =>
    val loaded = (0 until in.readInt()).map { _ =>
      val t = TableStats(readStr(in), in.readLong(), in.readLong())
      t.tableName -> t
    }.toMap
    refreshMap(tableStats, loaded)
  }.getOrElse(refreshMap(tableStats, Map.empty))

  private def saveSamples(): Unit = writeAtomic(samplesFile) { out =>
    out.writeInt(samples.size)
    samples.values.foreach { s =>
      writeStr(out, s.tableName); writeStr(out, s.sampleTable)
      out.writeDouble(s.fraction); writeOptStr(out, s.strataColumn)
      writeStr(out, s.path); out.writeLong(s.createdAt)
      writeOptLong(out, s.baseRows)
    }
  }
  private def loadSamples(): Unit = readFile(samplesFile) { in =>
    val loaded = (0 until in.readInt()).map { _ =>
      val s = SampleInfo(readStr(in), readStr(in), in.readDouble(),
        readOptStr(in), readStr(in), in.readLong(), readOptLong(in))
      s.sampleTable -> s
    }.toMap
    refreshMap(samples, loaded)
  }.getOrElse(refreshMap(samples, Map.empty))

  private def saveStrata(): Unit = writeAtomic(strataFile) { out =>
    out.writeInt(strata.size)
    strata.foreach { case (k, rows) =>
      writeStr(out, k); out.writeInt(rows.size)
      rows.foreach { r =>
        writeStr(out, r.strataValue); out.writeLong(r.popSize)
        out.writeLong(r.sampleSize); out.writeDouble(r.fraction)
        out.writeDouble(r.weight); out.writeDouble(r.variance)
      }
    }
  }
  private def loadStrata(): Unit = readFile(strataFile) { in =>
    val loaded = (0 until in.readInt()).map { _ =>
      val k = readStr(in)
      k -> (0 until in.readInt()).map { _ =>
        StratumInfo(k, readStr(in), in.readLong(), in.readLong(),
          in.readDouble(), in.readDouble(), in.readDouble())
      }.toSeq
    }.toMap
    refreshMap(strata, loaded)
  }.getOrElse(refreshMap(strata, Map.empty))

  private def saveKeySkew(): Unit = writeAtomic(keySkewFile) { out =>
    out.writeInt(keySkew.size)
    keySkew.values.foreach { k =>
      writeStr(out, k.tableName); writeStr(out, k.columnName)
      out.writeLong(k.nRows); out.writeLong(k.nKeys)
      out.writeLong(k.maxKeyRows); out.writeLong(k.topSharePpm)
      out.writeLong(k.updatedAt)
    }
  }
  private def loadKeySkew(): Unit = readFile(keySkewFile) { in =>
    val loaded = (0 until in.readInt()).map { _ =>
      val k = KeySkew(readStr(in), readStr(in), in.readLong(),
        in.readLong(), in.readLong(), in.readLong(), in.readLong())
      (k.tableName, k.columnName) -> k
    }.toMap
    refreshMap(keySkew, loaded)
  }.getOrElse(refreshMap(keySkew, Map.empty))

  private def saveMeasureSkew(): Unit = writeAtomic(measureSkewFile) { out =>
    out.writeInt(measureSkew.size)
    measureSkew.values.foreach { k =>
      writeStr(out, k.tableName); writeStr(out, k.columnName)
      out.writeLong(k.nRows); out.writeLong(k.topK)
      out.writeLong(k.topSharePpm); out.writeLong(k.updatedAt)
    }
  }
  private def loadMeasureSkew(): Unit = readFile(measureSkewFile) { in =>
    val loaded = (0 until in.readInt()).map { _ =>
      val k = MeasureSkew(readStr(in), readStr(in), in.readLong(),
        in.readLong(), in.readLong(), in.readLong())
      (k.tableName, k.columnName) -> k
    }.toMap
    refreshMap(measureSkew, loaded)
  }.getOrElse(refreshMap(measureSkew, Map.empty))

  /** Bring a cached map in line with a freshly loaded snapshot without
    * an empty window for keys that survive (concurrent readers of a
    * TrieMap see either the old or the new value, never a cleared map).
    */
  private def refreshMap[K, V](map: TrieMap[K, V], loaded: Map[K, V]): Unit = {
    map.keysIterator.filterNot(loaded.keySet).toSeq.foreach(map.remove)
    loaded.foreach { case (k, v) => map.put(k, v) }
  }

  // --- sketch blob files (one per key) ---

  private def blobFileName(key: (String, String, String)): String = {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    s"${enc(key._1)}__${enc(key._2)}__${enc(key._3)}.gsk"
  }
  private def blobPath(key: (String, String, String)): Path =
    blobDir.resolve(blobFileName(key))
  private def blobLock(key: (String, String, String)): Path =
    blobDir.resolve(blobFileName(key) + ".lock")

  private def writeSketchFile(info: SketchInfo): Unit =
    writeAtomic(blobPath((info.tableName, info.columnName,
      info.sketchType))) { out =>
      writeStr(out, info.tableName); writeStr(out, info.columnName)
      writeStr(out, info.sketchType); writeStr(out, info.parameters)
      out.writeLong(info.createdAt); out.writeLong(info.version)
      out.writeInt(info.data.length); out.write(info.data)
    }

  /** Read a blob by FILE — the key is stored inside the file, so no
    * filename decoding is ever needed (reload's directory walk).
    */
  private def readSketchAt(path: Path): Option[SketchInfo] =
    readFile(path) { in =>
      val (t, c, ty, p) = (readStr(in), readStr(in), readStr(in), readStr(in))
      val created = in.readLong(); val version = in.readLong()
      val data = new Array[Byte](in.readInt()); in.readFully(data)
      SketchInfo(t, c, ty, data, p, created, version)
    }

  private def readSketchFile(key: (String, String, String)): Option[SketchInfo] =
    readSketchAt(blobPath(key))

  /** Re-read every persisted registry and blob from `workDir` —
    * construction calls this (the restart law); callers sharing a
    * workDir across processes can call it to pick up the other
    * process's writes wholesale.
    */
  def reload(): Unit = {
    locked(metaLock) {
      loadStats(); loadSamples(); loadStrata(); loadKeySkew()
      loadMeasureSkew()
    }
    val onDisk = scala.collection.mutable.Set.empty[(String, String, String)]
    val listing = Files.list(blobDir)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".gsk"))
          readSketchAt(f).foreach { s =>
            val key = (s.tableName, s.columnName, s.sketchType)
            onDisk += key
            sketches.put(key, s)
          }
      }
    } finally listing.close()
    sketches.keysIterator.filterNot(onDisk).toSeq.foreach(sketches.remove)
  }

  // ---------------------------------------------------------------
  // table stats (aqe_table_stats)
  // ---------------------------------------------------------------
  def upsertTableStats(table: String, rowCount: Long): Unit =
    locked(metaLock) {
      loadStats()
      tableStats.put(table,
        TableStats(table, rowCount, System.currentTimeMillis()))
      saveStats()
    }
  def statsFor(table: String): Option[TableStats] = tableStats.get(table)

  // --- samples (aqe_samples) ---
  def addSample(info: SampleInfo): Unit = locked(metaLock) {
    loadSamples()
    samples.put(info.sampleTable, info)
    saveSamples()
  }
  def sampleByName(sampleTable: String): Option[SampleInfo] =
    samples.get(sampleTable)
  def samplesFor(table: String): Seq[SampleInfo] =
    samples.values.filter(_.tableName == table).toSeq
  /** Staleness guard for materialized samples (the twin of the engine's
    * sketchIsFresh): a sample that recorded its base rowcount serves
    * only while the catalog's table stats agree — after an append the
    * serving lookups fall through to inline sampling/exact instead of
    * answering from a sample of the OLD table.
    */
  def sampleIsFresh(s: SampleInfo): Boolean =
    (s.baseRows, statsFor(s.tableName)) match {
      case (Some(recorded), Some(ts)) => recorded == ts.rowCount
      case _                          => true
    }

  /** Re-stamp every sample of `table` as fresh w.r.t. the CURRENT table
    * stats — for callers that deliberately overwrite the stats (test
    * harnesses forcing a size-tier rule) while asserting the samples
    * still represent the table.
    */
  def refreshSampleBase(table: String): Unit = locked(metaLock) {
    loadSamples()
    val rows = statsFor(table).map(_.rowCount)
    samplesFor(table).foreach(s => samples.put(s.sampleTable,
      s.copy(baseRows = rows)))
    saveSamples()
  }

  /** Remove a sample from the registry AND reclaim its storage: the
    * data parquet, every maintainer state directory
    * ([[MetaCatalog.stateDirs]]), and its strata rows. The round-14
    * verdict's GC gap: retired samples were correctly skipped by the
    * freshness guards but their parquet stayed on disk forever.
    */
  def dropSample(sampleTable: String): Unit =
    locked(metaLock)(dropSampleLocked(sampleTable))

  // the body of dropSample for callers ALREADY inside the meta lock
  // (vacuumStaleSamples) — `locked` takes a fresh OS FileLock per call,
  // and a nested acquisition on the same path in one JVM throws
  // OverlappingFileLockException rather than blocking
  private def dropSampleLocked(sampleTable: String): Unit = {
    loadSamples(); loadStrata()
    samples.remove(sampleTable).foreach { s =>
      deleteRecursively(Paths.get(s.path))
      MetaCatalog.stateDirs(s.path).foreach(d => deleteRecursively(Paths.get(d)))
    }
    strata.remove(sampleTable)
    saveSamples(); saveStrata()
  }

  /** Drop every STALE sample of `table` matching `kind` (stale = its
    * recorded base rowcount disagrees with the current table stats, so
    * the freshness guard already refuses to serve it — the entry is
    * dead weight holding parquet). Builders call this with their own
    * kind on rebuild; `vacuum()` calls it unfiltered.
    *
    * Samples with LIVE maintainer state (any of
    * [[MetaCatalog.stateDirs]] exists — a streaming maintainer's fold
    * state) are skipped: a maintained
    * sample records the LIVE-WINDOW rowcount as its base, so a batch
    * builder's stats upsert makes it look stale while the maintainer
    * is mid-fold — auto-reclaiming it would destroy the fold state.
    * Retiring a maintained sample is an explicit `dropSample`.
    */
  def vacuumStaleSamples(table: String)(
      kind: SampleInfo => Boolean = _ => true): Seq[String] = locked(metaLock) {
    // staleness is decided INSIDE the lock on freshly loaded state —
    // an unlocked snapshot could outlast another process's
    // refreshSampleBase/stats rebuild and delete a sample that is
    // fresh on disk (cross-process TOCTOU)
    loadSamples(); loadStats()
    val stale = samplesFor(table)
      .filter(s => kind(s) && !sampleIsFresh(s))
      .filterNot(s => MetaCatalog.stateDirs(s.path)
        .exists(d => Files.exists(Paths.get(d))))
      .map(_.sampleTable)
    stale.foreach(dropSampleLocked)
    stale
  }

  /** Sketch types that carry LIVE MAINTAINER STATE rather than a
    * serving blob: windowed per-bucket packs, replay-guard riders, and
    * sample riders. Several record a running `"rows"` count that
    * legitimately disagrees with a batch builder's table stats (the
    * same divergence vacuumStaleSamples documents for maintained
    * samples), so the rows-evidence staleness rule must never reclaim
    * them — deleting a rider resets the replay guard and reseeds the
    * running counts, the exact states it exists to protect.
    */
  private def isMaintainerState(sketchType: String): Boolean =
    sketchType.endsWith("_windowed") || sketchType.endsWith("_rider") ||
      sketchType.endsWith("_state")

  /** Reclaim every stale artifact of `table`: samples whose base
    * rowcount disagrees with the table stats, and SERVING sketch blobs
    * whose recorded build `"rows"` does (the engine's sketchIsFresh
    * rule). Maintainer state — windowed packs, riders, replay guards —
    * is never touched (see [[isMaintainerState]]); retiring a live
    * maintainer is an explicit dropSketch. Returns (samples, sketches)
    * dropped.
    */
  def vacuum(table: String): (Seq[String], Seq[(String, String, String)]) = {
    val droppedSamples = vacuumStaleSamples(table)()
    val droppedSketches = listSketches(Some(table))
      .filterNot(s => isMaintainerState(s.sketchType))
      .filter { s =>
        (s.paramLong("rows"), statsFor(table)) match {
          case (Some(recorded), Some(ts)) => recorded != ts.rowCount
          case _                          => false
        }
      }.map(s => (s.tableName, s.columnName, s.sketchType))
    droppedSketches.foreach { case (t, c, ty) => dropSketch(t, c, ty) }
    (droppedSamples, droppedSketches)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
    }

  /** Reference semantics: the "best" registered sample is the SMALLEST
    * fraction (/root/reference/planner.py:173-183 ORDER BY ASC LIMIT 1);
    * stale samples (base table changed size) never serve.
    */
  def bestUniformSample(table: String): Option[SampleInfo] =
    samplesFor(table).filter(_.strataColumn.isEmpty)
      .filter(sampleIsFresh)
      .sortBy(_.fraction).headOption
  def stratifiedSampleFor(table: String, col: String): Option[SampleInfo] =
    samplesFor(table).filter(_.strataColumn.contains(col))
      .filter(sampleIsFresh)
      .sortBy(_.fraction).headOption
  /** Materialized universe (join-key-lottery) sample for (table, key) —
    * Samplers.createUniverse's `__universe__<key>` marker keeps these
    * out of the uniform/stratified lookups. Fresh-guarded like every
    * serving lookup; smallest fraction first (reference tie-break).
    */
  /** Materialized outlier-indexed sample for (table, valueCol) —
    * Samplers.createOutlierSample's `__outlier__<col>` marker keeps
    * these out of the uniform/stratified lookups (the outlier part is
    * value-clustered, not row-uniform, so serving it as a plain sample
    * would bias every non-weighted read). Fresh-guarded like every
    * serving lookup.
    */
  def outlierSampleFor(table: String, valueCol: String): Option[SampleInfo] =
    samplesFor(table)
      .filter(_.strataColumn.contains(s"__outlier__${valueCol.toLowerCase}"))
      .filter(sampleIsFresh)
      // a TWO-SIDED build (recorded "outlier_low" stratum) preempts a
      // one-sided one on the same (table, measure): it serves every
      // shape the one-sided sample serves PLUS exact MIN, so the pick
      // between coexisting builds is deterministic and capability-
      // maximal instead of listing-order luck (a MIN query refused
      // because the one-sided entry happened to sort first)
      .sortBy(s => (if (strataFor(s.sampleTable)
        .exists(_.strataValue == "outlier_low")) 0 else 1, s.fraction))
      .headOption

  def universeSampleFor(table: String, key: String): Option[SampleInfo] =
    samplesFor(table).filter(_.strataColumn.contains(s"__universe__$key"))
      .filter(sampleIsFresh)
      .sortBy(_.fraction).headOption

  /** Materialized bottom-k (fixed-size order-statistic) sample for
    * `table` — Samplers.createBottomK's `__bottomk__<key>` marker keeps
    * these out of the uniform/stratified lookups (its weight is the
    * post-aggregation N/k scale, not a per-row HT column). Fresh-guarded
    * like every serving lookup; smallest fraction first.
    */
  def bottomKSampleFor(table: String): Option[SampleInfo] =
    samplesFor(table)
      .filter(_.strataColumn.exists(_.startsWith("__bottomk__")))
      .filter(sampleIsFresh)
      .sortBy(_.fraction).headOption

  /** Materialized GROUPED bottom-k sample for `table` (the streamable
    * stratified form, `__bottomkg__<groupcol>` marker). The group
    * column rides in the marker — `bottomKGroupColumn` decodes it.
    */
  def bottomKGroupedSampleFor(table: String): Option[SampleInfo] =
    samplesFor(table)
      .filter(_.strataColumn.exists(_.startsWith("__bottomkg__")))
      .filter(sampleIsFresh)
      .sortBy(_.fraction).headOption

  def bottomKGroupColumn(s: SampleInfo): Option[String] =
    s.strataColumn.filter(_.startsWith("__bottomkg__"))
      .map(_.stripPrefix("__bottomkg__"))

  // --- sketches (aqe_sketches; unique on table+column+type) ---

  /** Flat-JSON parameter merge: `next`'s fields win, but fields present
    * only in `prev` are carried forward. A writer that owns a subset of
    * the parameters (the streaming maintainer owns `last_batch`, the
    * batch builder owns `rows`) must not silently drop the other
    * writer's fields — losing `rows` would disable the engine's
    * freshness guard; losing `last_batch` would let a replayed stream
    * batch double-count after a batch rebuild. Removing a field
    * requires a new key.
    */
  private[graft] def mergeParams(prev: String, next: String): String = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
    MetaCatalog.paramFields(prev).foreach { case (k, v) => fields(k) = v }
    MetaCatalog.paramFields(next).foreach { case (k, v) => fields(k) = v }
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** Upsert under the key's file lock: the previous value is re-read
    * from DISK inside the lock (another process's write is the one a
    * driver-memory read would miss), parameters merge field-wise,
    * `version` increments, and the new file lands via atomic rename
    * before the lock releases — the durable form of the old TrieMap
    * CAS loop.
    */
  def upsertSketch(info: SketchInfo): Unit = {
    val key = (info.tableName, info.columnName, info.sketchType)
    locked(blobLock(key)) {
      val next = readSketchFile(key) match {
        case None => info
        case Some(prev) => info.copy(
          parameters = mergeParams(prev.parameters, info.parameters),
          version = prev.version + 1)
      }
      writeSketchFile(next)
      sketches.put(key, next)
    }
  }

  /** Atomic read-merge-write: fold `info.data` into any existing sketch
    * under the key's file lock so two concurrent maintainers of the
    * same (table, column) never lose a batch — including maintainers in
    * DIFFERENT PROCESSES sharing the workDir (round 15; the prev value
    * is read from disk inside the lock, where the other process's fold
    * is visible). `merge(prev, next)` must be commutative over the
    * sketch's byte format (HLL register-max / histogram count-add are).
    * Parameters merge field-wise (see mergeParams) and `version`
    * increments per write.
    */
  def upsertSketchMerging(info: SketchInfo)(
      merge: (Array[Byte], Array[Byte]) => Array[Byte]): SketchInfo = {
    val key = (info.tableName, info.columnName, info.sketchType)
    locked(blobLock(key)) {
      val next = readSketchFile(key) match {
        case None => info
        case Some(prev) => info.copy(data = merge(prev.data, info.data),
          parameters = mergeParams(prev.parameters, info.parameters),
          version = prev.version + 1)
      }
      writeSketchFile(next)
      sketches.put(key, next)
      next
    }
  }
  def getSketch(table: String, column: String, sketchType: String): Option[SketchInfo] = {
    val key = (table, column, sketchType)
    // disk fallback on a miss: a blob another process built (or one
    // built before a crash that skipped this session's boot) serves
    // without an explicit reload
    sketches.get(key).orElse {
      val fromDisk = readSketchFile(key)
      fromDisk.foreach(sketches.put(key, _))
      fromDisk
    }
  }
  def listSketches(table: Option[String] = None): Seq[SketchInfo] =
    table.fold(sketches.values.toSeq)(t =>
      sketches.values.filter(_.tableName == t).toSeq)

  /** Remove a sketch from the registry and delete its blob file — the
    * GC path for retired/stale blobs (`vacuum`).
    */
  def dropSketch(table: String, column: String, sketchType: String): Unit = {
    val key = (table, column, sketchType)
    locked(blobLock(key)) {
      sketches.remove(key)
      Files.deleteIfExists(blobPath(key))
    }
  }

  // --- key-skew stats (q65 detector -> salted-plan chooser) ---
  def upsertKeySkew(table: String, column: String, nRows: Long,
      nKeys: Long, maxKeyRows: Long): Unit = locked(metaLock) {
    loadKeySkew()
    val ppm = if (nRows > 0) maxKeyRows * 1000000L / nRows else 0L
    keySkew.put((table, column),
      KeySkew(table, column, nRows, nKeys, maxKeyRows, ppm,
        System.currentTimeMillis()))
    saveKeySkew()
  }
  def keySkewFor(table: String, column: String): Option[KeySkew] =
    keySkew.get((table, column))

  def upsertMeasureSkew(table: String, column: String, nRows: Long,
      topK: Long, topSharePpm: Long): Unit = locked(metaLock) {
    loadMeasureSkew()
    measureSkew.put((table, column.toLowerCase),
      MeasureSkew(table, column.toLowerCase, nRows, topK, topSharePpm,
        System.currentTimeMillis()))
    saveMeasureSkew()
  }
  def measureSkewFor(table: String, column: String): Option[MeasureSkew] =
    measureSkew.get((table, column.toLowerCase))

  // --- strata info (aqe_strata_info) ---
  def putStrata(sampleTable: String, info: Seq[StratumInfo]): Unit =
    locked(metaLock) {
      loadStrata()
      strata.put(sampleTable, info)
      saveStrata()
    }
  def strataFor(sampleTable: String): Seq[StratumInfo] =
    strata.getOrElse(sampleTable, Nil)

  // load-on-boot (the restart law) — last constructor statement, after
  // every path val above has initialized
  reload()
}

object MetaCatalog {
  /** Maintainer state directories beside a sample parquet `<path>`: the
    * streaming sample maintainers' fold state. The windowed outlier
    * maintainer keeps its own (`__wstate`): it shares its sample name
    * with the append outlier maintainer but not its row layout.
    */
  val StateDir = "__state"
  val WindowedStateDir = "__wstate"
  def stateDirs(samplePath: String): Seq[String] =
    Seq(StateDir, WindowedStateDir).map(samplePath + _)

  /** The one reader of sketch parameters. Parameters are always the
    * catalog's own flat {"k":v,...} objects (no nesting, no escaped
    * quotes), so a field regex is a complete parser: values are a
    * quoted string or a bare token.
    */
  private val paramFieldRe = """"([^"]+)"\s*:\s*("[^"]*"|[^,}\s]+)""".r

  /** (key, raw value) pairs in order; string values keep their quotes. */
  private[catalog] def paramFields(params: String): Iterator[(String, String)] =
    paramFieldRe.findAllMatchIn(params).map(m => m.group(1) -> m.group(2))

  /** The first `key` field's value, string values unquoted. */
  private[catalog] def param(params: String, key: String): Option[String] =
    paramFields(params).collectFirst { case (`key`, v) =>
      if (v.startsWith("\"")) v.substring(1, v.length - 1) else v
    }

  /** One monitor per lock-file path, JVM-wide: two catalogs over the
    * same workDir in one process serialize here (an OS FileLock cannot
    * — same-process overlap throws instead of blocking).
    */
  private val jvmLocks = TrieMap.empty[String, Object]

  /** Best-effort directory fsync after a rename: makes the new
    * directory entry durable across OS/power failure (the file's own
    * bytes are forced before the move). Opening a directory channel
    * for read works on Linux (the deployment target); filesystems that
    * refuse it degrade to rename-without-dir-sync, which is still
    * process-crash-safe.
    */
  private[graft] def fsyncDir(dir: java.nio.file.Path): Unit =
    if (dir != null) {
      try {
        val ch = FileChannel.open(dir, StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } catch { case _: java.io.IOException => () }
    }
}

/** Sample-table naming convention shared with the reference
  * (`{table}__sample_{frac}`, `{table}__strat_sample_{col}_{frac}` with
  * 0.01 -> "0_01"; /root/reference/sampler.py:99-117, parsed back at
  * planner.py:114-140).
  */
object SampleNaming {
  /** 0.01 -> "0_01", 0.1 -> "0_1", 0.005 -> "0_005", 0.3 -> "0_3". */
  def encodeFraction(f: Double): String = {
    if (f <= 0) return "0_000"
    var s = f"$f%.3f".replace(".", "_").reverse.dropWhile(_ == '0').reverse
    if (s.endsWith("_")) s += "0"
    if (!s.startsWith("0_")) s = "0_" + s
    s
  }

  def decodeFraction(enc: String): Option[Double] =
    scala.util.Try(enc.replace("_", ".").toDouble).toOption
      .filter(f => f > 0 && f <= 1)

  def uniformName(table: String, f: Double): String =
    s"${table}__sample_${encodeFraction(f)}"
  def stratifiedName(table: String, col: String, f: Double): String =
    s"${table}__strat_sample_${col}_${encodeFraction(f)}"

  /** Parse a sample-table name back to (baseTable, fraction) — used when a
    * user queries a sample table directly (planner.py:114-140).
    */
  def parse(name: String): Option[(String, Double)] = {
    // The fraction suffix always looks like 0_01 / 0_3 (encodeFraction),
    // so anchor on `0_[0-9]+$` to stop greedy backtracking from eating it.
    val uni = "(.+)__sample_(0_[0-9]+)".r
    val strat = "(.+)__strat_sample_.+_(0_[0-9]+)".r
    name match {
      case strat(t, enc) => decodeFraction(enc).map(f => (t, f))
      case uni(t, enc)   => decodeFraction(enc).map(f => (t, f))
      case _             => None
    }
  }
}
