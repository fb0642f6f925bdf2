package perfbench

import java.nio.file.{Files, Paths}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side. `run.py` builds the classpath, owns the work
  * directory and prints the result line; this program runs one workload
  * and writes everything it measured as one JSON document.
  *
  * {{{
  * perfbench.Main --workload maintain|ingest_stream --seed N
  *   --trace 0|1 --home DIR --work DIR --cache DIR
  *   --fingerprint HEX --out FILE [--spans FILE]
  * }}} */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cpu0 = Jvm.cpuNs
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = graft.GraftSession.builder(Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = if (traced) {
      val p = new SparkProbe
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    val runId = f"$workload-${args("seed")}-${System.currentTimeMillis()}%x"
    val trace = new Trace(traced, runId, spark)
    val c = new Ctx(spark, trace, Paths.get(args("home")).toAbsolutePath, work,
      Paths.get(args("cache")).toAbsolutePath, args("seed").toLong, args("fingerprint"))
    // One tiny job so the first measured call does not pay executor start.
    spark.range(0, 1000, 1, Cores).selectExpr("sum(id)").head()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionCpuS = (Jvm.cpuNs - cpu0) / 1e9

    Jvm.resetPeak()
    val gc0 = Jvm.gcMs
    val wall0 = System.nanoTime()
    try workload match {
      case "warmup" => warmup(c)
      case "maintain" => Maintain.run(c)
      case "ingest_stream" => IngestStream.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable => c.fail(s"$workload aborted: $e")
    }
    val wallS = (System.nanoTime() - wall0) / 1e9

    val stage = trace.ms("setup.stage")
    val setupS = sessionS + (if (stage.isEmpty) 0.0 else Stats.median(stage) / 1000)
    val stageCpu = trace.cpuMs("setup.stage")
    val setupCpuS = sessionCpuS + (if (stageCpu.isEmpty) 0.0 else Stats.median(stageCpu) / 1000)
    if (c.gaugeMs.nonEmpty) {
      c.e2e("setup_s") = setupCpuS * c.hostScale
      c.put("gauge_ms", Stats.median(c.gaugeMs.toSeq), "ms", c.gaugeMs.size)
      c.put("host_scale", c.hostScale, "ratio", c.gaugeMs.size)
    }
    c.put("setup_wall_s", setupS, "s", stage.size)
    c.put("setup_cpu_s", setupCpuS, "s", stageCpu.size)
    c.put("session_s", sessionS, "s", 1)
    c.put("session_cpu_s", sessionCpuS, "s", 1)
    c.put("fixture_s", trace.ms("setup.fixture").sum / 1000, "s", trace.ms("setup.fixture").size)
    c.put("run_wall_s", wallS, "s", 1)
    c.put("error_rate", if (c.attempted == 0) 1.0 else c.failed.toDouble / c.attempted, "ratio",
      c.attempted.toInt)

    c.layer("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
    c.layer("jvm.heap_peak_mb") = Jvm.heapPeakMb
    probe.foreach { p =>
      p.drain()
      sparkLayer(c, p)
    }
    // Traced runs then time the read-only layers the workloads do not reach,
    // one pass per workload so that neither traced run nears its time limit.
    if (traced) try workload match {
      case "maintain" => Kernels.run(c)
      case "ingest_stream" => Queries.run(c)
      case _ =>
    } catch {
      case e: Throwable => c.fail(s"$workload layer pass aborted: $e")
    }
    args.get("spans").foreach(s => if (traced) trace.writeSpans(Paths.get(s)))

    val finite = (m: collection.Map[String, Double]) =>
      m.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) null else v) }.toMap
    val doc = Map(
      "workload" -> workload, "seed" -> c.seed, "trace" -> traced,
      "attempted" -> c.attempted, "failed" -> c.failed,
      "failures" -> c.failures.toList,
      "e2e" -> finite(c.e2e),
      "detail" -> c.detail.map { case (k, (v, u, n)) =>
        k -> Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u, "n" -> n)
      }.toMap,
      "layer" -> finite(c.layer),
      "counters" -> finite(c.counters),
      "self_ms" -> trace.selfTimes.take(25).map { case (n, k, tot, self) =>
        Map("span" -> n, "calls" -> k, "total_ms" -> tot, "self_ms" -> self)
      }.toList,
      "spans" -> trace.spanCount)
    Files.writeString(Paths.get(args("out")), Serialization.write(doc)(DefaultFormats))
    spark.stop()
  }

  /** A small table round trip that loads the classes every workload
    * needs; run once per build to fill the class-data-sharing archive. */
  private def warmup(c: Ctx): Unit = {
    val t = graft.table.GraftTable.create(c.work.resolve("warmup").toString, c.spark)
    val rows = graft.images.ImageGen.df(c.spark, 40, 1L, 2)
    graft.table.GraftTable.append(t, rows, targetFiles = Some(4))
    graft.table.GraftTable.append(t, rows.limit(10))
    graft.jobs.Compact.run(t, targetBytes = 1L << 20)
    t.scanWhere(Seq(graft.table.EqString("fmt", "png"))).select("image_id").collect()
    Digest.rows(t.scan())
  }

  /** Executor work in the measured calls: everything but set-up, the
    * layer passes and the (span-less) output checks. */
  private def sparkLayer(c: Ctx, p: SparkProbe): Unit = {
    val measured = (n: String) =>
      !Seq("setup.", "warmup.", "expr.", "query.", "ivf.").exists(n.startsWith) && n != "(none)"
    val top = Seq("jobs.", "table.scan", "step")
    val calls = top.flatMap(prefix => c.trace.selfTimes.filter { case (n, _, _, _) =>
      if (prefix.endsWith(".")) n.startsWith(prefix) else n == prefix
    })
    // In ingest_stream the scans run inside steps: count the steps only.
    val roots = if (calls.exists(_._1 == "step")) calls.filterNot(_._1.startsWith("table.")) else calls
    val wallMs = roots.map(_._3).sum
    val n = roots.map(_._2).sum
    val (jobs, taskMs, shuffle, spill, gc, skew) = p.totals(measured)
    c.layer("spark.jobs") = if (n == 0) 0.0 else jobs.toDouble / n
    c.layer("spark.task_s") = taskMs / 1000.0
    c.layer("spark.core_util") = if (wallMs == 0) 0.0 else taskMs / (wallMs * Cores)
    c.layer("spark.shuffle_write_mb") = shuffle / 1048576.0
    c.layer("spark.spill_mb") = spill / 1048576.0
    c.layer("spark.gc_ms") = gc.toDouble
    c.layer("spark.task_skew") = skew
  }
}
