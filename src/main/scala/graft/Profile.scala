package graft

import graft.ScaleProbe.time
import graft.pipeline.TextDedup
import org.apache.spark.sql.functions._

/** Dev utility: stage-by-stage timing of the near-dup pipeline (the
  * bench's heaviest query) at a given scale factor. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()

    // toRdd.count materializes every column of the plan as-is —
    // a plain count() lets the optimizer prune the very expressions
    // under test (see Bench variance notes)
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    val docs = graft.queries.t(spark, sfDir, "documents")
    time("warmup count")(docs.count())
    val sh = TextDedup.bigramShingles(docs, "doc_id", "text")
    time("shingles")(force(sh))
    val shp = TextDedup.pruneFrequentShingles(sh, 0.1)
    time("pruned shingles")(force(shp))
    val sig = TextDedup.minhashSignature(shp, 16)
    time("signatures 16")(force(sig))
    val bands = TextDedup.lshBands(sig, 16, 2)
    time("bands x8")(force(bands))
    val pairs = TextDedup.candidatePairs(bands)
    println(s"candidates: ${time("candidatePairs")(force(pairs))}")
    val jac = TextDedup.jaccard(sh, pairs)
    time("jaccard")(force(jac))
    time("full q56 uncached")(
      TextDedup.jaccard(sh, TextDedup.candidatePairs(
        TextDedup.lshBands(TextDedup.minhashSignature(shp, 16), 16, 2)))
        .filter(col("jaccard") >= 0.5).count())

    // q65 stage timings
    import graft.pipeline.Similarity
    val e = graft.queries.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    time("emb count")(e.count())
    val cents = time("centroid collect")(
      e.filter(col("vec_id") < 32).orderBy("vec_id")
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq)
    val celled = e
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"),
              Similarity.ivfCellOf(col("v"), col("nrm"), cents).as("cell"))
    time("ivf assignment")(celled.count())
    time("ivf assignment again")(celled.count())
    val aSide = celled.select(col("vec_id").as("query_id"), col("v").as("qv"),
                              col("nrm").as("qn"), col("cell"))
    val bSide = celled.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("cell"))
    val prs = aSide.join(bSide, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    println(s"pair count: ${time("ivf pair join")(prs.count())}")
    // is it recomputation of `celled` inside the join stages?
    val celledC = celled.cache()
    time("celled materialize")(celledC.count())
    val aC = celledC.select(col("vec_id").as("query_id"), col("v").as("qv"),
                            col("nrm").as("qn"), col("cell"))
    val bC = celledC.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("cell"))
    val prsC = aC.join(bC, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
    println(s"pair count cached: ${time("ivf pair join from cache")(prsC.count())}")
    val withCos = prs.select(col("query_id"), col("neighbor_id"), col("cell"),
      round(call_function("vec_dot", col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos"))
    time("ivf pair cos")(withCos.count())
    time("full ivfTopK")(Similarity.ivfTopK(e, cents, 3).count())
    time("full ivfTopK again")(Similarity.ivfTopK(e, cents, 3).count())
    spark.stop()
  }
}
