package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}

/** Fixed-size passes of the public `graft.expr.functions` kernels (traced
  * runs only). Each pass aggregates a hash of the kernel's output over a
  * cached input, so Mrows/s is the kernel plus one hash per row. */
object Kernels {
  def run(c: Ctx): Unit = {
    val spark = c.spark
    def pass(name: String, input: DataFrame, kernel: Column): Unit = {
      val in = input.cache()
      val rows = in.count()
      c.op(s"expr.$name")(in.select(kernel.as("k"))
        .agg(sum(xxhash64(col("k")).bitwiseAND(lit(0xffffL)))).head())
        .foreach(_ => c.layer(s"expr.${name}_mrows_s") =
          rows / (c.trace.last(s"expr.$name") / 1000) / 1e6)
      in.unpersist()
    }
    val sf = Queries.dataDir(c)
    val imgs = Fixtures.images(c, 0, 0, Maintain.Rows + Maintain.Inserts).select("bytes")
      .crossJoin(spark.range(0, 2).select(col("id").as("rep")))
    pass("phash64", imgs, gf.phash64(col("bytes")))
    val longs = spark.range(0, 2000000, 1, Main.Cores).select(col("id").as("a"),
      (col("id") * 7919L % 1000003L).as("b"), (col("id") * 31L % 65537L).as("c"))
    pass("zorder3", longs, gf.zorder3(col("a"), col("b"), col("c")))
    pass("hilbert3", longs, gf.hilbert3(col("a"), col("b"), col("c")))
    val emb = spark.read.parquet(sf.resolve("embeddings.parquet").toString)
    val vecs = emb.select("embedding").crossJoin(spark.range(0, 200).select(col("id").as("rep")))
    val q = Array.tabulate(64)(i => math.sin(i + c.seed.toDouble))
    pass("cosine_sim_lit", vecs,
      gf.cosine_sim_lit(col("embedding"), q, math.sqrt(q.map(x => x * x).sum)))
    val docs = spark.read.parquet(sf.resolve("documents.parquet").toString).select("text")
      .crossJoin(spark.range(0, 20).select(col("id").as("rep")))
    pass("winnow_fp", docs, gf.winnow_fp(col("text"), 5, 4))
    // Eight embeddings, fixed-point scaled as the IVF fit stores them.
    val cents = emb.orderBy("vec_id").limit(8).collect().toSeq.map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(x => graft.operators.KMeans.scaleValue(x.toDouble)).toArray
    }
    pass("nearest_centroid", vecs.select(gf.scale_vec(col("embedding")).as("v")),
      gf.nearest_centroid(col("v"), cents))
  }
}
