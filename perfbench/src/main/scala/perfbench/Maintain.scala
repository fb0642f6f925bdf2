package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobs._
import graft.table._

/** `maintain`: the batch upkeep cycle on a small-file table.
  *
  * Each cycle stages a fresh table of seeded ImageGen rows in many tiny
  * unclustered files, then runs compact -> cluster (zorder) -> MERGE ->
  * delete -> dedup -> transcode -> rewrite-manifests -> expire, checking the
  * table against the seeded inputs after every job, and ends with a fixed
  * set of pruned scans. An unchecked warm-up cycle on an identical staged
  * table runs first, so that class loading, JIT and Spark's code generation
  * are paid before the measured cycle. */
object Maintain {
  val Rows = 1000
  val StagedFiles = 50
  val Updates = 20 // 2% of the keys get a new caption
  val Inserts = 10
  val Deletes = 10
  val CompactTarget: Long = 1L << 20
  /** Output file size of cluster and of the copy-on-write jobs after it,
    * so the clustered layout keeps enough files for scans to prune. */
  val ClusterTarget: Long = 128L << 10
  /** Pruned scans the warm-up cycle runs (of the measured cycle's 50). */
  val WarmupScans = 5
  val PsnrSample = 8
  val Jobs: Seq[String] = Seq("compact", "cluster", "merge", "delete", "dedup",
    "transcode", "rewrite_manifests", "expire")

  /** One cycle's inputs and what they predict after each job. */
  private final case class Inputs(base: DataFrame, mergeSource: DataFrame,
      deleteKeys: DataFrame, expected: Map[String, (Long, Long)], psnrIds: Seq[String],
      changedBytes: Long)

  private val kept = (r: Img) => (r.id, r.w, r.h, r.caption)

  def run(c: Ctx): Unit = {
    // The table's rows are fixed (image seed 0, cached once per build); the
    // run's seed picks the MERGE and delete keys and the scan predicates.
    val all = c.trace("setup.fixture")(Fixtures.images(c, 0, 0, Rows + Inserts))
    val imgs = c.trace("setup.fixture")(Digest.rows(all))
    val rng = new scala.util.Random(c.seed)
    val in = inputs(c, all, imgs, rng)
    val scans = scanSet(rng)
    warmup(c, in, scans)
    cycle(c, in, scans).foreach(report(c, _))
  }

  /** Stages the table into `root`: one append of the fixture as
    * `StagedFiles` files, timed as set-up. */
  private def stage(c: Ctx, in: Inputs, root: java.nio.file.Path): Option[GraftTable] = {
    TableFs.deleteTree(root)
    c.op("setup.stage") {
      val t = GraftTable.create(root.toString, c.spark)
      GraftTable.append(t, in.base, targetFiles = Some(StagedFiles))
      t.currentFiles.size // warms the manifest cache
      t
    }
  }

  /** The cycle's jobs and scans on a staged table, untimed and unchecked:
    * it loads and compiles the code the measured cycle runs. */
  private def warmup(c: Ctx, in: Inputs, scans: Seq[Seq[PruneFilter]]): Unit = {
    val root = c.work.resolve("warmup")
    stage(c, in, root).foreach { t =>
      c.op("warmup.cycle") {
        Compact.run(t, targetBytes = CompactTarget)
        Cluster.run(t, "zorder", "global", ClusterTarget)
        MergeInto.run(t, in.mergeSource, targetBytes = ClusterTarget)
        MergeInto.deleteMatched(t, in.deleteKeys, ClusterTarget)
        DedupPhash.run(t, targetBytes = ClusterTarget)
        Transcode.run(t, targetBytes = ClusterTarget)
        RewriteManifests.run(t)
        ExpireSnapshots.run(t, Seq(t.currentSnapshot.snapshotId))
        scans.take(WarmupScans).foreach(f => t.scanWhere(f).select("image_id").collect())
      }
    }
    TableFs.deleteTree(root)
  }

  /** The staged rows, the MERGE source and delete keys drawn from `rng`,
    * and the table digest each job should leave. */
  private def inputs(c: Ctx, all: DataFrame, imgs: Seq[Img], rng: scala.util.Random): Inputs = {
    val spark = c.spark
    import spark.implicits._
    val id = (i: Int) => Fixtures.imageId(i.toLong)
    val base = all.filter(col("image_id") < lit(id(Rows)))
    val inserted = all.filter(col("image_id") >= lit(id(Rows)))
    val picked = rng.shuffle((0 until Rows).toVector)
    val updates = picked.take(Updates).map(i => id(i) -> s"updated caption ${c.seed} $i").toMap
    val deletes = picked.slice(Updates, Updates + Deletes).map(id).toSet
    val mergeSource = updates.toSeq.toDF("image_id", "caption")
      .withColumn("bytes", lit(null).cast("binary"))
      .unionByName(inserted.select("image_id", "caption", "bytes"))

    val baseRows = imgs.filter(_.id < id(Rows))
    val insertRows = imgs.filter(_.id >= id(Rows))
    val afterMerge = baseRows.map(r => updates.get(r.id).fold(r)(cap => r.copy(caption = cap))) ++
      insertRows
    val afterDelete = afterMerge.filterNot(r => deletes(r.id))
    val afterDedup = afterDelete.groupBy(_.phash).values
      .map(_.maxBy(r => (r.caption.length, r.caption, r.id))).toSeq
    val expected = Map(
      "base" -> Digest.of(baseRows), "merge" -> Digest.of(afterMerge),
      "delete" -> Digest.of(afterDelete), "dedup" -> Digest.of(afterDedup),
      "transcode" -> Digest.of(afterDedup, kept))
    // Rows the cycle changes: updated, inserted, deleted, dedup victims and
    // transcoded (png) rows — the user-data denominator of write_amp.
    val survivors = afterDedup.map(_.id).toSet
    val changedBytes = (afterMerge.filter(r => updates.contains(r.id) || deletes(r.id)) ++
      insertRows ++ afterDelete.filterNot(r => survivors(r.id)) ++
      afterDedup.filter(_.fmt == "png")).map(_.payload).sum
    Inputs(base, mergeSource, deletes.toSeq.toDF("image_id"), expected,
      afterDedup.filter(_.fmt == "png").map(_.id).sorted.take(PsnrSample), changedBytes)
  }

  /** The fixed seeded predicate set of the closing pruned scans. */
  private def scanSet(rng: scala.util.Random): Seq[Seq[PruneFilter]] = {
    val id = (i: Int) => Fixtures.imageId(i.toLong)
    val span = 1L << 60
    val phash = (0 until 20).map { _ =>
      val lo = rng.nextLong() >> 1
      Seq(RangeLong("phash", lo, lo + span))
    }
    val points = (0 until 15).map(_ => Seq(EqString("image_id", id(rng.nextInt(Rows + Inserts)))))
    val ranges = (0 until 8).map { _ =>
      val a = rng.nextInt(Rows)
      Seq(RangeString("image_id", id(a), id(a + 40)))
    }
    val sizes = Seq(32L, 48L, 64L, 96L, 128L)
    val shapes = (0 until 7).map { k =>
      Seq(EqString("fmt", "jpg"), GeLong("w", sizes(k % sizes.size)),
        LeLong("h", sizes((k + 2) % sizes.size)))
    }
    phash ++ points ++ ranges ++ shapes
  }

  private def live(t: GraftTable): Map[String, DataFileMeta] =
    t.currentFiles.map(f => f.path -> f).toMap

  /** One staged table through the whole cycle, then `scans`; None when an
    * operation threw. Failed checks are counted and the cycle goes on. */
  private def cycle(c: Ctx, in: Inputs,
      scans: Seq[Seq[PruneFilter]]): Option[Map[String, Double]] = {
    import in._
    val root = c.work.resolve("maintain")

    val t = stage(c, in, root).getOrElse(return None)
    def digest(key: Img => Product = identity) = Digest.of(Digest.rows(t.scan()), key)
    c.expect(digest() == expected("base"), s"staged table != fixture")

    val job = new JobRunner(c, t, root)
    val m = job.m
    var rewrittenRows = 0L
    var digestNow = expected("base")
    var psnrBefore: Array[Row] = Array.empty
    def sample() = t.scan().filter(col("image_id").isin(psnrIds: _*))
      .select("image_id", "bytes").orderBy("image_id").collect()
    def same(what: String): Unit = {
      val d = digest()
      c.expect(d == digestNow, s"$what changed the table ($d != $digestNow)")
    }
    def expectDigest(what: String): Unit = {
      val d = digest()
      digestNow = expected(what)
      c.expect(d == digestNow, s"after $what $d != expected $digestNow")
    }

    val ok =
      job("compact")(Compact.run(t, targetBytes = CompactTarget)) { r =>
        rewrittenRows += r.rows
        c.expect(r.filesIn > 1 && r.filesOut < r.filesIn, s"compact ${r.filesIn}->${r.filesOut}")
        same("compact")
      } &&
      job("cluster")(Cluster.run(t, "zorder", "global", ClusterTarget)) { r =>
        rewrittenRows += r.rows
        same("cluster")
      } &&
      job("merge")(MergeInto.run(t, mergeSource, targetBytes = ClusterTarget)) { r =>
        m("merge.matched_rows") = r.matchedRows.toDouble
        c.expect(r.matchedRows == Updates && r.insertedRows == Inserts,
          s"merge matched ${r.matchedRows} inserted ${r.insertedRows}")
        expectDigest("merge")
      } &&
      job("delete")(MergeInto.deleteMatched(t, deleteKeys, ClusterTarget)) { r =>
        c.expect(r.deletedRows == Deletes, s"delete removed ${r.deletedRows}")
        expectDigest("delete")
      } &&
      job("dedup")(DedupPhash.run(t, targetBytes = ClusterTarget)) { _ =>
        val dupes = t.scan().groupBy("phash").count().filter(col("count") > 1).count()
        psnrBefore = sample()
        c.expect(dupes == 0, s"$dupes phash values still duplicated")
        expectDigest("dedup")
      } &&
      job("transcode")(Transcode.run(t, targetBytes = ClusterTarget)) { _ =>
        val png = t.scan().filter(col("fmt") === "png").count()
        val keys = digest(kept)
        val psnr = psnrBefore.zip(sample()).map { case (a, b) =>
          graft.images.ImageCodec.psnrBytes(a.getAs[Array[Byte]](1), b.getAs[Array[Byte]](1))
        }
        digestNow = digest()
        c.expect(png == 0, s"$png png rows left after transcode")
        c.expect(keys == expected("transcode"), s"transcode changed keys or captions")
        c.expect(psnr.length == PsnrSample && psnr.forall(_ >= 40.0),
            s"transcode PSNR ${psnr.mkString(",")} (want $PsnrSample samples >= 40 dB)")
      } &&
      job("rewrite_manifests")(RewriteManifests.run(t)) { r =>
        m("rewrite_manifests.files_in") = r.manifestsBefore
        m("rewrite_manifests.files_out") = r.manifestsAfter
        same("rewrite-manifests")
      } &&
      job("expire")(ExpireSnapshots.run(t, Seq(t.currentSnapshot.snapshotId))) { r =>
        m("expire.files_in") = r.deletedDataFiles.toDouble
        m("expire.bytes_in") = r.deletedBytes.toDouble
        c.expect(t.meta.snapshots.size == 1, s"expire kept ${t.meta.snapshots.size} snapshots")
        same("expire")
      }
    if (!ok) return None

    // ---- closing pruned scans, checked against an unpruned full scan
    val unpruned = t.scan().select("image_id", "phash", "fmt", "w", "h").collect()
    val liveFiles = t.currentFiles.size
    var filesScanned = 0L
    scans.foreach { f =>
      c.op("table.scan")(t.scanWhere(f).select("image_id").collect()).foreach { rows =>
        val want = unpruned.filter(r => f.forall(matches(r, _))).map(_.getString(0)).sorted.toSeq
        c.expect(rows.map(_.getString(0)).sorted.toSeq == want,
          s"pruned scan $f returned ${rows.length} rows, want ${want.size}")
      }
      filesScanned += t.planFiles(f).size
    }

    val liveBytes = t.currentFiles.map(_.fileSizeBytes).sum
    m("rewritten_rows") = rewrittenRows.toDouble
    m("data_written_bytes") = job.dataWritten.toDouble
    m("write_amp") = job.written.toDouble / changedBytes
    m("space_amp") = TableFs.bytes(root).toDouble / liveBytes
    m("files_per_scan") = filesScanned.toDouble / math.max(1, scans.size)
    m("prune_ratio") = 1.0 - filesScanned.toDouble / math.max(1L, scans.size.toLong * liveFiles)
    m("merge_useful_ratio") = m("merge.matched_rows") / math.max(1.0, m("merge.rows_in"))
    val (writeMs, statsMs) = EngineLog.writes(root.toString)
    val (commitMs, retries) = EngineLog.commits(root.toString)
    m("write_ms.p50") = Stats.median(writeMs)
    m("stats_ms.p50") = Stats.median(statsMs)
    m("commit_ms.p50") = Stats.median(commitMs)
    m("commit_ms.p95") = Stats.pct(commitMs, 95)
    m("commit_retries") = retries.toDouble
    m("manifests") = t.currentSnapshot.manifests.size
    TableFs.deleteTree(root)
    Some(m.toMap)
  }

  /** Row-level semantics of a prune filter over (image_id, phash, fmt, w, h). */
  private def matches(r: Row, f: PruneFilter): Boolean = f match {
    case EqString("image_id", v) => r.getString(0) == v
    case RangeString("image_id", lo, hi) => r.getString(0) >= lo && r.getString(0) <= hi
    case RangeLong("phash", lo, hi) => r.getLong(1) >= lo && r.getLong(1) <= hi
    case EqString("fmt", v) => r.getString(2) == v
    case GeLong("w", v) => r.getInt(3) >= v
    case LeLong("h", v) => r.getInt(4) <= v
    case other => throw new IllegalArgumentException(s"no row semantics for $other")
  }

  private def report(c: Ctx, m: Map[String, Double]): Unit = {
    val cycleMs = Jobs.map(j => m(s"$j.ms")).sum
    val cycleCpuMs = Jobs.map(j => m(s"$j.cpu_ms")).sum
    val rowsPerS = m("rewritten_rows") / ((m("compact.ms") + m("cluster.ms")) / 1000)
    val rowsPerCpuS = m("rewritten_rows") / ((m("compact.cpu_ms") + m("cluster.cpu_ms")) / 1000)
    val scans = c.trace.ms("table.scan")
    val scansCpu = c.trace.cpuMs("table.scan")
    val k = c.hostScale
    c.e2e("cycle_ref_s") = cycleCpuMs / 1000 * k
    c.e2e("step_ref_p50_ms") = Stats.pct(scansCpu, 50) * k
    c.e2e("step_ref_p80_ms") = Stats.pct(scansCpu, 80) * k
    c.e2e("rewrite_rows_per_ref_s") = rowsPerCpuS / k
    c.e2e("write_amp") = m("write_amp")
    c.e2e("space_amp") = m("space_amp")
    c.put("cycle_cpu_s", cycleCpuMs / 1000, "s", 1)
    c.put("cycle_s", cycleMs / 1000, "s", 1)
    c.put("warmup_s", c.trace.ms("warmup.cycle").sum / 1000, "s", 1)
    c.put("rewrite_rows_per_cpu_s", rowsPerCpuS, "rows/s", 1)
    c.put("rewrite_rows_per_s", rowsPerS, "rows/s", 1)
    c.put("scan_cpu_p50_ms", Stats.pct(scansCpu, 50), "ms", scansCpu.size)
    c.put("scan_cpu_p80_ms", Stats.pct(scansCpu, 80), "ms", scansCpu.size)
    c.put("write_amp", m("write_amp"), "ratio", 1)
    c.put("space_amp", m("space_amp"), "ratio", 1)
    c.put("scan_p50_ms", Stats.pct(scans, 50), "ms", scans.size)
    c.put("scan_p80_ms", Stats.pct(scans, 80), "ms", scans.size)
    Jobs.foreach(j => c.put(s"$j.s", m(s"$j.ms") / 1000, "s", 1))

    Jobs.foreach { j =>
      c.layer(s"jobs.${j}_s") = m(s"$j.ms") / 1000
      Seq("bytes_in", "bytes_out", "files_in", "files_out").foreach(k =>
        c.layer(s"jobs.$j.$k") = m(s"$j.$k"))
    }
    c.layer("jobs.merge_useful_ratio") = m("merge_useful_ratio")
    c.layer("table.commit_ms.p50") = m("commit_ms.p50")
    c.layer("table.commit_ms.p95") = m("commit_ms.p95")
    c.layer("table.commit_attempts") = m("commit_retries")
    c.layer("table.write_ms.p50") = m("write_ms.p50")
    c.layer("table.stats_ms.p50") = m("stats_ms.p50")
    c.layer("table.data_bytes_written") = m("data_written_bytes")
    c.layer("table.files_per_scan") = m("files_per_scan")
    c.layer("table.prune_ratio") = m("prune_ratio")
    c.layer("table.manifests_peak") = m("manifests")
    c.layer("table.manifests_end") = m("manifests")

    Seq("write_amp", "space_amp", "files_per_scan", "merge_useful_ratio", "manifests")
      .foreach(k => c.counters(k) = m(k))
    Jobs.foreach(j => Seq("files_in", "files_out").foreach(k =>
      c.counters(s"jobs.$j.$k") = m(s"$j.$k")))
  }
}
