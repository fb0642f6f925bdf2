package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs.BuildIvf

/** The SparkEntry and IVF layer pass of traced runs: read-only operators,
  * no table commits.
  *
  * Runs every `SparkEntry.queries` entry over the benchmark's copy of the
  * sf0.01 tables, each checked against the digest of its result recorded
  * from the engine the benchmark was defined on, then builds an IVF index
  * over the embeddings and probes it with seeded query vectors. */
object Queries {
  val Probes = 50
  val NProbe = 2
  val TopK = 10

  def dataDir(c: Ctx): Path = c.home.resolve("data").resolve("sf0.01")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val sf = dataDir(c).toString
    val names = SparkEntry.queries.keys.toSeq.sorted
    val digests = readDigests(c.home.resolve("query_digests.tsv"))

    // ---- the 40 queries, each consumed by an order-independent digest
    // over every output column (this materialises every column, as a noop
    // sink would, and checks the result in the same pass)
    val got = mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      c.op(s"query.$n") {
        val df = SparkEntry.queries(n)(spark, sf)
        Digest.ofFrame(df)
      }.foreach { d =>
        got(n) = d
        c.expect(digests.get(n).contains(d), s"$n digest $d != recorded ${digests.getOrElse(n, "none")}")
      }
    }

    // ---- IVF build and probes
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vectors = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val root = c.work.resolve("ivf")
    val idx = c.op("ivf.build") {
      BuildIvf.run(spark, emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        root.toString, initIds = 1L to 8L, iters = 3)
    }
    val rng = new scala.util.Random(c.seed)
    val ids = vectors.keys.toVector.sorted
    var filesOpened = 0L
    idx.foreach { r =>
      val bucketOf = r.table.scan().select("vec_id", "bucket").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      for (k <- 0 until Probes) {
        val near = vectors(ids(rng.nextInt(ids.size)))
        val q = near.map(x => x + rng.nextGaussian() * 0.05)
        c.op("ivf.probe") {
          val df = BuildIvf.probe(r.table, q, NProbe, TopK)
          (df.collect(), df)
        }.foreach { case (rows, df) =>
          filesOpened += df.inputFiles.length
          checkProbe(c, k, q, rows, vectors, bucketOf)
        }
      }
    }

    val probes = c.trace.ms("ivf.probe")
    val buildMs = c.trace.ms("ivf.build")
    if (got.size < names.size || idx.isEmpty || probes.isEmpty) return
    val queryTotal = names.map(n => c.trace.last(s"query.$n")).sum / 1000
    c.put("query_total_s", queryTotal, "s", names.size)
    c.put("probe_p50_ms", Stats.pct(probes, 50), "ms", probes.size)
    c.put("probe_p80_ms", Stats.pct(probes, 80), "ms", probes.size)
    c.put("ivf_build_s", buildMs.head / 1000, "s", 1)

    names.foreach(n => c.layer(s"query.${n}_ms") = c.trace.last(s"query.$n"))
    c.layer("query.total_s") = queryTotal
    c.layer("ivf.build_s") = buildMs.head / 1000
    c.layer("ivf.probe_ms.p50") = Stats.pct(probes, 50)
    c.layer("ivf.probe_ms.p80") = Stats.pct(probes, 80)
    c.layer("ivf.probe_files") = filesOpened.toDouble / probes.size
    c.counters("ivf.probe_files") = filesOpened.toDouble / probes.size
    c.counters("ivf.files") = idx.get.files
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** A probe returns TopK distinct vectors in descending cosine order, each
    * with its true cosine and bucket, and no other vector of the buckets it
    * returned scores higher than its last row. */
  private def checkProbe(c: Ctx, k: Int, q: Array[Double], rows: Array[Row],
      vectors: Map[Long, Array[Double]], bucketOf: Map[Long, Long]): Unit = {
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val tol = 1e-6
    val ids = got.map(_._1)
    val buckets = got.map(_._2).toSet
    val sorted = got.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    val exact = got.forall { case (id, b, cos) =>
      bucketOf.get(id).contains(b) && math.abs(cosine(q, vectors(id)) - cos) < tol
    }
    val floor = if (got.isEmpty) Double.MaxValue else got.map(_._3).min
    val missed = bucketOf.collect {
      case (id, b) if buckets(b) && !ids.contains(id) && cosine(q, vectors(id)) > floor + tol => id
    }
    c.expect(got.length == TopK && ids.distinct.length == TopK && sorted && exact && missed.isEmpty,
      s"probe $k: ${got.length} rows, sorted=$sorted, exact=$exact, missed=${missed.take(3)}")
  }

  private def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray.map(_.toString).filter(_.contains('\t'))
      .map { l => val Array(n, d) = l.split('\t'); n -> d }.toMap
}
