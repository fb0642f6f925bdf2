package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Stats {
  /** Linearly interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Files under a table root, as the storage sees them. */
object TableFs {
  /** Relative path -> size of every regular file of the table's data and
    * metadata. Job lineage and the observability log under `lineage/` are
    * left out: they record durations, so their sizes change from run to run
    * and byte counters would not repeat for a fixed seed. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString -> Files.size(p)
      }.filterNot(_._1.startsWith("lineage/")).toMap
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).values.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** A table row as the checks see it, with the payload as length and hash. */
final case class Img(id: String, len: Int, bytesHash: Long, w: Int, h: Int, fmt: String,
    caption: String, phash: Long) {
  /** Raw bytes of the row's user data: strings, payload and three numbers. */
  def payload: Long = id.length + len + caption.length + fmt.length + 16L
}

/** Order-independent digests: the row count and the wrapping sum of a
  * 64-bit hash per row. */
object Digest {
  /** The rows of an image frame; the payload is hashed where it lies. */
  def rows(df: DataFrame): Seq[Img] =
    df.select(col("image_id"), length(col("bytes")), xxhash64(col("bytes")), col("w"), col("h"),
      col("fmt"), col("caption"), col("phash")).collect().toSeq.map { r =>
      Img(r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getString(5), r.getString(6), r.getLong(7))
    }

  def of(rows: Iterable[Img], key: Img => Product = identity): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) =>
      val p = key(r)
      (n + 1, s + ((MurmurHash3.orderedHash(p.productIterator, 0x0ddba11).toLong << 32) ^
        (MurmurHash3.orderedHash(p.productIterator, 0x5eed).toLong & 0xffffffffL)))
    }

  /** Spark-side digest of any frame: row count plus the sums of the low and
    * high 32-bit halves of each row's xxhash64 over every column (sums of
    * halves cannot overflow, so ANSI mode never trips). */
  def ofFrame(df: DataFrame): String = {
    val h = xxhash64(df.columns.toSeq.map(col): _*)
    val r = df.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%x:${r.getLong(2)}%x"
  }
}

/** One run's shared state: the session, the call timer, the operation and
  * failure tally, and the metrics the workload reports. */
final class Ctx(val spark: SparkSession, val trace: Trace, val home: Path,
    val work: Path, val cache: Path, val seed: Long, val fingerprint: String) {
  val traced: Boolean = trace.enabled
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** End-to-end metrics under the names BENCHMARK.json declares. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** The workload's own metrics: name -> (value, unit, samples). */
  val detail = mutable.LinkedHashMap[String, (Double, String, Int)]()
  /** Per-layer metrics (traced runs). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Counters that must repeat exactly for a fixed seed. */
  val counters = mutable.LinkedHashMap[String, Double]()

  /** One operation against the system: counted, timed under `name`; a
    * throw counts as a failure and yields None. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(trace(name)(f))
    catch { case NonFatal(e) => fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    finally if (attempted % GaugeEvery == 0) gaugeMs += Gauge.run(this)
  }

  /** CPU time (ms) of each [[Gauge]] run: one after every `GaugeEvery`
    * operations, so the runs sample the host across the whole workload. */
  val gaugeMs = mutable.ArrayBuffer[Double]()
  private val GaugeEvery = 4

  /** Factor from this run's CPU times to the reference host's: the
    * gauge's reference CPU time over its median in this run. */
  def hostScale: Double = Gauge.RefMs / Stats.median(gaugeMs.toSeq)

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg.take(400)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** An output check; a false `cond` counts as one failed operation. */
  def expect(cond: Boolean, msg: => String): Boolean = {
    if (!cond) fail(s"check: $msg")
    cond
  }

  def put(name: String, value: Double, unit: String, n: Int): Unit =
    detail(name) = (value, unit, n)
}

/** Runs a table's jobs as operations named `<prefix>.<job>` and accounts
  * for each: its time, the data files its commit removed and added, and
  * every byte written under the table since the previous account. */
final class JobRunner(c: Ctx, t: graft.table.GraftTable, root: Path, prefix: String = "jobs") {
  private var seen = TableFs.files(root)
  var written = 0L
  var dataWritten = 0L
  /** Per job: `ms`, `cpu_ms`, `files_in`, `files_out`, `bytes_in`, `bytes_out`, `rows_in`. */
  val m = mutable.LinkedHashMap[String, Double]()

  /** Adds the files written since the last call to the byte counters. */
  def sync(): Unit = {
    val now = TableFs.files(root)
    val fresh = now.filter { case (p, _) => !seen.contains(p) }
    written += fresh.values.sum
    dataWritten += fresh.filter(_._1.startsWith("data/")).values.sum
    seen = now
  }

  /** Runs job `name`, then `verify` (its output checks, which count their
    * own failures); false only if the job threw. */
  def apply[R](name: String)(f: => R)(verify: R => Unit): Boolean = {
    val before = t.currentFiles.map(f => f.path -> f).toMap
    val r = c.op(s"$prefix.$name")(f).getOrElse(return false)
    m(s"$name.ms") = c.trace.last(s"$prefix.$name")
    m(s"$name.cpu_ms") = c.trace.cpuMs(s"$prefix.$name").last
    val after = t.currentFiles.map(f => f.path -> f).toMap
    sync()
    val removed = (before.keySet -- after.keySet).toSeq.map(before)
    val added = (after.keySet -- before.keySet).toSeq.map(after)
    m(s"$name.files_in") = removed.size
    m(s"$name.files_out") = added.size
    m(s"$name.bytes_in") = removed.map(_.fileSizeBytes).sum.toDouble
    m(s"$name.bytes_out") = added.map(_.fileSizeBytes).sum.toDouble
    m(s"$name.rows_in") = removed.map(_.rowCount).sum.toDouble
    verify(r)
    true
  }
}

/** The engine's own records under `<root>/lineage/_metrics`, read as they
  * are: the `write-data-files` split of write and footer-stats time, and
  * the `commit` durations and CAS attempts. */
object EngineLog {
  private def jobs(root: String, name: String) =
    graft.lineage.Metrics.events(root).filter(e => e.kind == "job" && e.name == name)

  def writes(root: String): (Seq[Double], Seq[Double]) = {
    val ev = jobs(root, "write-data-files")
    (ev.flatMap(_.detail.get("write-ms")).map(_.toDouble),
      ev.flatMap(_.detail.get("stats-ms")).map(_.toDouble))
  }

  /** Commit durations (ms) and CAS retries (attempts beyond the first). */
  def commits(root: String): (Seq[Double], Long) = {
    val ev = jobs(root, "commit")
    (ev.map(_.durationMs.toDouble),
      ev.flatMap(_.detail.get("attempts")).map(_.toLong - 1).sum)
  }
}
