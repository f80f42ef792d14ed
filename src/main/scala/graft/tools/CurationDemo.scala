package graft.tools

import graft.functions.{Curation, Dedup, Sampling, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline over the documents corpus — the
  * library-as-a-product path a data engineer would actually run:
  *
  *   quality gate → exact dedup → decontamination → weighted sampling →
  *   train/val/test split → sequence packing → curated parquet +
  *   per-bin MDIO manifest.
  *
  * Usage: runMain graft.tools.CurationDemo <sfDir> <outDir>
  * Writes <outDir>/curated (parquet, partitioned by split) and
  * <outDir>/bins.mdio (per-bin manifest), prints one summary line.
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_curation")
    val spark = graft.GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.documents(spark, sfDir)

    // 1. quality gate: token band + stopword ratio (the compose gate)
    val toks = TF.tokens(col("text"))
    val gated = docs
      .withColumn("n_tok", size(toks).cast("long"))
      .filter(col("n_tok") >= 5 && col("n_tok") <= 1000 &&
        TF.stopwordRatio(col("text"), "en") <= 0.6)

    // 2. exact dedup: keep the min doc_id per content hash (semi join)
    val keepers = gated.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = gated.join(keepers, Seq("doc_id"), "left_semi")

    // 3. decontamination vs the held-out benchmark slice
    val flagged = Curation.decontaminate(
      train = deduped.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0),
      idCol = "doc_id", textCol = "text").select("doc_id")
    val clean = deduped.filter(col("doc_id") % 97 =!= 0)
      .join(flagged, Seq("doc_id"), "left_anti")

    // 4. domain mixing + 5. split assignment (both pure maps)
    val sampled = Curation.sampleWeighted(clean, "doc_id", "source",
      Map("src0" -> 1000, "src1" -> 500, "src2" -> 250), defaultPermille = 400)
    val split = Sampling.assignSplit(sampled, col("doc_id"),
      Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))

    // 6. sequence packing within (split, lang)
    val packed = Curation.packSequences(split.drop("n_tok"), "text", "doc_id",
      Seq("split", "lang"), targetTokens = 512L)

    packed.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/curated")

    // per-(split) bin manifest → chunked MDIO store, like a trainer reads
    val manifest = packed.filter(col("split") === "train")
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "bin").collect()
    val n = manifest.length.max(1)
    val mdioDir = s"$outDir/bins.mdio"
    graft.sources.MdioWriter.delete0(mdioDir) // no-op unless a dataset exists
    graft.sources.MdioWriter.create(graft.spec.MdioSpec.fromJson(
      s"""{
         |  "metadata": {"name": "bins", "apiVersion": "v1.0",
         |               "createdOn": "2026-01-01T00:00:00Z"},
         |  "variables": [
         |    {"name": "idx", "dataType": "int64",
         |     "dimensions": [{"name": "idx", "size": $n}]},
         |    {"name": "n_docs", "dataType": "int64",
         |     "dimensions": [{"name": "idx", "size": $n}],
         |     "metadata": {"chunkGrid": {"name": "regular",
         |       "configuration": {"chunkShape": [${math.min(n, 1024)}]}}}},
         |    {"name": "n_tokens", "dataType": "int64",
         |     "dimensions": [{"name": "idx", "size": $n}],
         |     "metadata": {"chunkGrid": {"name": "regular",
         |       "configuration": {"chunkShape": [${math.min(n, 1024)}]}}}}
         |  ]
         |}""".stripMargin), mdioDir)
    import spark.implicits._
    val mdf = manifest.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getLong(2), r.getLong(3))
    }.toSeq.toDF("idx", "n_docs", "n_tokens")
    graft.sources.MdioWriter.writeVariable(spark, mdf.select("idx", "n_docs"), mdioDir, "n_docs")
    graft.sources.MdioWriter.writeVariable(spark, mdf.select("idx", "n_tokens"), mdioDir, "n_tokens")

    val total = docs.count()
    val kept = packed.count()
    val trainBins = manifest.length
    println(s"[curation] $total docs in -> $kept kept " +
      s"(${"%.1f".format(kept * 100.0 / total)}%), $trainBins train bins " +
      s"-> $outDir/curated + $mdioDir")
    spark.stop()
  }
}
