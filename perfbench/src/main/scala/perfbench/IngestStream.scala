package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.jobs._
import graft.table._

/** `ingest_stream`: many small appends with reads in between, then one
  * upkeep pass.
  *
  * The table starts from a staged history of `History` one-file append
  * commits (built once per build and cached, then copied in). One writer
  * then appends `Steps` pre-generated micro-batches of `BatchRows` seeded
  * ImageGen rows, one data file per commit, and after each append runs a
  * pruned planFiles plus scanWhere. The history alone holds more manifests
  * than the engine's 256-entry manifest cache, so every step runs past it.
  * The stream ends with one upkeep pass: compact, rewrite-manifests, and
  * expire to the last snapshot. */
object IngestStream {
  val History = 260
  val Steps = 50
  val BatchRows = 20
  val StagingRepeats = 3
  val CompactTarget: Long = 1L << 20
  /** First row index of the stream's own rows (the history uses 0..). */
  val StreamBase = 1000000000L
  /** Thumbnail edge lengths: a micro-batch carries small images. */
  val Sizes: Array[Int] = Array(32, 48)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val history = c.trace("setup.fixture")(stagedHistory(c))
    val streamDf = c.trace("setup.fixture")(
      Fixtures.images(c, c.seed, StreamBase, Steps * BatchRows, Sizes))
    val streamRows = streamDf.select(Fixtures.Columns.map(col): _*).collect()
    val schema = streamDf.select(Fixtures.Columns.map(col): _*).schema
    val batches = streamRows.grouped(BatchRows).toVector
    require(batches.size == Steps && batches.forall(_.length == BatchRows))
    val historyDf = Fixtures.images(c, 0, 0, History * BatchRows, Sizes)
    val keys: Array[String] = c.trace("setup.fixture")(
      historyDf.select("image_id").collect().map(_.getString(0)))
    val streamImgs = c.trace("setup.expected")(Digest.rows(streamDf))
    val expected = c.trace("setup.expected")(Digest.of(Digest.rows(historyDf) ++ streamImgs))
    val ingestedBytes = streamImgs.map(_.payload).sum

    // ---- set-up, repeated: copy the staged history in and warm it
    var root: Path = null
    for (k <- 0 until StagingRepeats) {
      if (root != null) TableFs.deleteTree(root)
      root = c.work.resolve(s"ingest-$k")
      c.op("setup.stage") {
        copyTree(history, root)
        TableFs.deleteTree(root.resolve("lineage"))
        GraftTable.load(root.toString, spark).currentFiles.size
      }
    }
    val t = GraftTable.load(root.toString, spark)
    val staged = t.currentSnapshot.manifests.size
    c.expect(staged > 256, s"stream: the history holds $staged manifests, not above 256")
    val job = new JobRunner(c, t, root)
    val jm = job.m

    // ---- the stream
    val rng = new scala.util.Random(c.seed)
    val appended = mutable.ArrayBuffer[String]()
    var peakManifests = 0
    var filesScanned = 0L
    var liveSeen = 0L
    val t0 = System.nanoTime()
    for (k <- 0 until Steps) {
      val rows = batches(k)
      // Even steps look up one key of the history or the stream so far;
      // odd steps read a whole earlier micro-batch by key range.
      val (filter, want) =
        if (k % 2 == 0) {
          val key = if (appended.nonEmpty && rng.nextBoolean()) appended(rng.nextInt(appended.size))
            else keys(rng.nextInt(keys.length))
          (Seq(EqString("image_id", key)), Seq(key))
        } else {
          val b = rng.nextInt(k + 1)
          val ids = batches(b).map(_.getString(0)).toSeq
          (Seq(RangeString("image_id", ids.head, ids.last)), ids)
        }
      c.op("step") {
        val df = spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        c.trace("append") {
          val files = c.trace("table.write")(t.writeDataFiles(df))
          c.trace("table.commit")(t.commit("append", files, Set.empty))
        }
        val planned = c.trace("table.plan")(t.planFiles(filter))
        val got = c.trace("table.scan")(t.scanWhere(filter).select("image_id").collect())
        (planned.size, got.map(_.getString(0)).sorted.toSeq)
      }.foreach { case (nFiles, got) =>
        appended ++= rows.map(_.getString(0))
        filesScanned += nFiles
        liveSeen += History + appended.size / BatchRows // one file per commit
        c.expect(got == want.sorted, s"step $k: scan $filter returned ${got.size} rows, want ${want.size}")
      }
      if (c.traced) { // a parse of the newest version file, outside the step
        MetaIO.invalidate(root.toString)
        c.trace("table.meta_load")(MetaIO.load(root.toString))
      }
      peakManifests = math.max(peakManifests, t.currentSnapshot.manifests.size)
    }
    val streamS = (System.nanoTime() - t0) / 1e9
    val peak = TableFs.files(root)
    val metaPeak = peak.filter(_._1.startsWith("metadata/"))
    val lastVersion = metaPeak.filter(e => e._1.matches("metadata/v\\d+\\.metadata\\.json"))
      .maxBy(e => e._1.stripPrefix("metadata/v").stripSuffix(".metadata.json").toInt)
    c.expect(Digest.of(Digest.rows(t.scan())) == expected, "stream: table != history + batches")

    // ---- the upkeep pass
    job.sync() // the stream's writes
    def intact(name: String) = c.expect(Digest.of(Digest.rows(t.scan())) == expected,
      s"upkeep: $name changed the table")
    val ok =
      job("compact")(Compact.run(t, targetBytes = CompactTarget)) { r =>
        c.expect(r.filesIn > 1 && r.filesOut < r.filesIn, s"upkeep: compact ${r.filesIn}->${r.filesOut}")
        intact("compact")
      } &&
      job("rewrite_manifests")(RewriteManifests.run(t)) { r =>
        jm("rewrite_manifests.files_in") = r.manifestsBefore
        jm("rewrite_manifests.files_out") = r.manifestsAfter
        intact("rewrite-manifests")
      } &&
      job("expire")(ExpireSnapshots.run(t, Seq(t.currentSnapshot.snapshotId))) { r =>
        jm("expire.files_in") = r.deletedDataFiles.toDouble
        jm("expire.bytes_in") = r.deletedBytes.toDouble
        c.expect(t.meta.snapshots.size == 1, s"upkeep: expire kept ${t.meta.snapshots.size} snapshots")
        intact("expire")
      }
    if (!ok) return

    val upkeepJobs = Seq("compact", "rewrite_manifests", "expire")
    val cycleMs = upkeepJobs.map(j => jm(s"$j.ms")).sum
    val endFiles = TableFs.files(root)
    val liveBytes = t.currentFiles.map(_.fileSizeBytes).sum
    val steps = c.trace.ms("step")
    val appends = c.trace.ms("append")
    val scans = c.trace.ms("table.scan")
    val writeAmp = job.written.toDouble / ingestedBytes
    val spaceAmp = endFiles.values.sum.toDouble / liveBytes
    val compactRowsPerS = jm("compact.rows_in") / (jm("compact.ms") / 1000)

    val cycleCpuMs = upkeepJobs.map(j => jm(s"$j.cpu_ms")).sum
    val stepsCpu = c.trace.cpuMs("step")
    val compactRowsPerCpuS = jm("compact.rows_in") / (jm("compact.cpu_ms") / 1000)

    val k = c.hostScale
    c.e2e("cycle_ref_s") = cycleCpuMs / 1000 * k
    c.e2e("step_ref_p50_ms") = Stats.pct(stepsCpu, 50) * k
    c.e2e("step_ref_p80_ms") = Stats.pct(stepsCpu, 80) * k
    c.e2e("rewrite_rows_per_ref_s") = compactRowsPerCpuS / k
    c.e2e("write_amp") = writeAmp
    c.e2e("space_amp") = spaceAmp
    c.put("stream_s", streamS, "s", 1)
    c.put("cycle_cpu_s", cycleCpuMs / 1000, "s", 1)
    c.put("cycle_s", cycleMs / 1000, "s", 1)
    c.put("step_cpu_p50_ms", Stats.pct(stepsCpu, 50), "ms", stepsCpu.size)
    c.put("step_cpu_p80_ms", Stats.pct(stepsCpu, 80), "ms", stepsCpu.size)
    c.put("step_p50_ms", Stats.pct(steps, 50), "ms", steps.size)
    c.put("step_p80_ms", Stats.pct(steps, 80), "ms", steps.size)
    c.put("rewrite_rows_per_cpu_s", compactRowsPerCpuS, "rows/s", 1)
    c.put("rewrite_rows_per_s", compactRowsPerS, "rows/s", 1)
    c.put("append_p50_ms", Stats.pct(appends, 50), "ms", appends.size)
    c.put("append_p80_ms", Stats.pct(appends, 80), "ms", appends.size)
    c.put("scan_p50_ms", Stats.pct(scans, 50), "ms", scans.size)
    c.put("scan_p80_ms", Stats.pct(scans, 80), "ms", scans.size)
    c.put("write_amp", writeAmp, "ratio", 1)
    c.put("space_amp", spaceAmp, "ratio", 1)
    c.put("manifests_peak", peakManifests, "count", 1)
    upkeepJobs.foreach(j => c.put(s"$j.s", jm(s"$j.ms") / 1000, "s", 1))

    val commits = c.trace.ms("table.commit")
    val (writeMs, statsMs) = EngineLog.writes(root.toString)
    val (_, retries) = EngineLog.commits(root.toString)
    c.layer("table.commit_ms.p50") = Stats.pct(commits, 50)
    c.layer("table.commit_ms.p95") = Stats.pct(commits, 95)
    c.layer("table.commit_attempts") = retries.toDouble
    if (c.traced) c.layer("table.meta_load_ms.p50") = Stats.median(c.trace.ms("table.meta_load"))
    c.layer("table.plan_ms.p50") = Stats.median(c.trace.ms("table.plan"))
    c.layer("table.manifests_peak") = peakManifests
    c.layer("table.manifests_end") = t.currentSnapshot.manifests.size
    c.layer("table.version_file_bytes") = lastVersion._2.toDouble
    c.layer("table.meta_bytes") = metaPeak.values.sum.toDouble
    c.layer("table.write_ms.p50") = Stats.median(writeMs)
    c.layer("table.stats_ms.p50") = Stats.median(statsMs)
    c.layer("table.data_bytes_written") = job.dataWritten.toDouble
    c.layer("table.files_per_scan") = filesScanned.toDouble / Steps
    c.layer("table.prune_ratio") = 1.0 - filesScanned.toDouble / liveSeen
    upkeepJobs.foreach { j =>
      c.layer(s"jobs.${j}_s") = jm(s"$j.ms") / 1000
      Seq("bytes_in", "bytes_out", "files_in", "files_out").foreach(k =>
        c.layer(s"jobs.$j.$k") = jm(s"$j.$k"))
    }

    c.counters("write_amp") = writeAmp
    c.counters("space_amp") = spaceAmp
    c.counters("files_per_scan") = filesScanned.toDouble / Steps
    c.counters("manifests_peak") = peakManifests
    upkeepJobs.foreach(j => Seq("files_in", "files_out").foreach(k =>
      c.counters(s"jobs.$j.$k") = jm(s"$j.$k")))
  }

  /** The history table: `History` one-file append commits of seed-0 rows.
    * Built once per build fingerprint: one write job lays out the files,
    * then each file is committed on its own, which leaves the same
    * snapshots, manifests and version files as that many appends. */
  private def stagedHistory(c: Ctx): Path = {
    val dir = c.cache.resolve(s"history-${c.fingerprint}-$History-$BatchRows-${Sizes.mkString("x")}")
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = c.cache.resolve(s".tmp-${ProcessHandle.current().pid()}-history")
      TableFs.deleteTree(tmp)
      val rows = Fixtures.images(c, 0, 0, History * BatchRows, Sizes)
      val t = GraftTable.create(tmp.toString, c.spark)
      val files = t.writeDataFiles(rows.repartitionByRange(History, col("image_id")))
      require(files.size == History, s"history layout wrote ${files.size} files")
      files.sortBy(_.path).foreach(f => t.commit("append", Seq(f), Set.empty))
      MetaIO.invalidate(tmp.toString)
      Files.createFile(tmp.resolve("_READY"))
      TableFs.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val rel = from.relativize(p)
      if (rel.toString != "_READY") {
        val q = to.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q)
      }
    } finally s.close()
  }
}
