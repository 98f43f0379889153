package graft.tools

import graft.ext.VectorKMeans
import org.apache.spark.sql.functions._

/** Regenerates the centroid literal block embedded in q50's DuckDB
  * oracle (`DocumentQueries.q50CentroidValuesSql`): runs the EXACT fit
  * q50 runs (k=8, 2 Lloyd rounds, quantize=6) on the given testdata
  * dir and prints the `VALUES` rows. The 6-decimal quantization makes
  * the fit reproducible (see [[VectorKMeans.fit]]), and `%.6f`
  * round-trips a quantized double exactly, so the printed literals
  * parse back to bit-identical centroids in both engines.
  *
  * Usage: `sbt "runMain graft.tools.PrintQ50Centroids /root/testdata/sf0.01"`
  * — rerun and re-paste only when the embeddings testdata changes. */
object PrintQ50Centroids {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(8, 32)
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val model = VectorKMeans.fit(e, "vec_id", "emb", k = 8, iters = 2,
      quantize = Some(6))
    def f(v: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, v)
    val rows = model.centroids.map { case (cid, c) =>
      s"($cid, [${c.map(f).mkString(", ")}])"
    }
    println("CENTROIDS_BEGIN")
    println(rows.mkString(",\n"))
    println("CENTROIDS_END")
    spark.stop()
  }
}
