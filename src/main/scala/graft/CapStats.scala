package graft

import pipeline.Sessions

/** Bucket-cap sensitivity probe (one-shot tool, not part of the bench):
  * reports, for each candidate-generation tier (minhash bands, simhash
  * chunks, embedding hyperplane tables), how many buckets exist, how many
  * exceed `Dedup.MaxBucket` (and would therefore have their pairs dropped
  * by `pairsFromKeys`), and the largest observed bucket — turning the
  * repo's standing "caps are observable, never silent" claim into a
  * committed observation over the real fixture corpus
  * (BENCH/BASELINE.md records the sf0.1 run).
  *
  * Usage: `sbt "runMain graft.CapStats /root/testdata/sf0.1"`.
  */
object CapStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-capstats")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    def one(tier: String, cap: Int, df: org.apache.spark.sql.DataFrame): String = {
      val r = df.head()
      s""""$tier":{"cap":$cap,"n_buckets":${r.getLong(0)},"n_capped":${r.getLong(1)},"max_bucket":${r.getLong(2)}}"""
    }
    // caps are PER-TIER since round 7 (simhash's 4-chunk pigeonhole needs
    // larger buckets than minhash's 16 bands — Dedup.SimhashMaxBucket)
    val parts = Seq(
      one("minhash", operators.Dedup.MaxBucket, operators.Dedup.bucketStats(docs)),
      one("simhash", operators.Dedup.SimhashMaxBucket,
        operators.Dedup.simhashBucketStats(docs)),
      one("embedding", operators.Dedup.MaxBucket,
        operators.Similarity.embeddingBucketStats(emb)))
    println(s"""{"sf":"$sfDir",${parts.mkString(",")}}""")
    spark.stop()
  }
}
