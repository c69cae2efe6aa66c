package graft

import org.apache.spark.sql.functions._
import pipeline.Sessions

/** Simhash recall-under-capping probe (one-shot tool, companion to
  * CapStats): the simhash tier provably drops candidate pairs when a
  * chunk bucket exceeds its cap (CapStats measured 6/10,781 buckets over
  * the old 64 cap at sf0.1, max 163). This tool turns the prose estimate
  * of that drop's RECALL effect into a measurement, two ways:
  *
  * 1. corpus recall: verified simhash pairs at cap 64 (the old shared
  *    cap) and cap 256 (`Dedup.SimhashMaxBucket`, the per-tier cap)
  *    versus an effectively-uncapped run (cap 2^20 — sound here because
  *    the measured max bucket is in the hundreds) on the real fixture
  *    corpus;
  * 2. planted recall: exact clones (Hamming 0 — a pair that can NEVER be
  *    missed by verification, only by candidate capping) of up to 50
  *    docs living in over-64 buckets, reporting the recovered fraction
  *    of the planted (orig, clone) pairs under each cap. A clone pair
  *    agrees on all four chunks, so it survives unless EVERY one of its
  *    four buckets is capped — the pigeonhole-rescue effect the cap
  *    argument has so far only claimed.
  *
  * Usage: `sbt "runMain graft.CapRecall /root/testdata/sf0.1"`; one JSON
  * line, committed as an observation in BENCH/BASELINE.md.
  */
object CapRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-caprecall")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .persist()

    def pairCount(cap: Int): Long =
      operators.Dedup.simhashDuplicates(docs, 3, cap).count()
    val uncapped = pairCount(1 << 20)
    val at64 = pairCount(64)
    val at256 = pairCount(operators.Dedup.SimhashMaxBucket)
    def ratio(n: Long): Double =
      if (uncapped == 0) 1.0 else n.toDouble / uncapped

    // planted clones of hot-bucket (> 64) members. The clone-id offset is
    // derived from max(doc_id)+1 (not a fixed constant) so a larger
    // fixture can never alias a clone id onto a real doc_id — a collision
    // would silently corrupt both the planted-pair filter and the union.
    val cloneOffset = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val hotIds = operators.Dedup.simhashKeysFor(docs)
      .groupBy("band_key").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 64)
      .select(explode(col("ids")).as("doc_id"))
      .distinct().orderBy("doc_id").limit(50)
      .collect().map(_.getLong(0))
    val plantedJson =
      if (hotIds.isEmpty) "\"planted\":null"
      else {
        val clones = docs
          .filter(col("doc_id").isin(hotIds.map(Long.box): _*))
          .select((col("doc_id") + cloneOffset).as("doc_id"), col("text"))
        val planted = docs.unionByName(clones)
        def recovered(cap: Int): Long =
          operators.Dedup.simhashDuplicates(planted, 3, cap)
            .filter(col("doc_b") === col("doc_a") + cloneOffset &&
              col("doc_a").isin(hotIds.map(Long.box): _*))
            .count()
        val r64 = recovered(64)
        val r256 = recovered(operators.Dedup.SimhashMaxBucket)
        s""""planted":{"n":${hotIds.length},"recovered_64":$r64,"recovered_256":$r256}"""
      }
    println(s"""{"sf":"$sfDir","uncapped_pairs":$uncapped,"pairs_64":$at64,"pairs_256":$at256,"recall_64":${ratio(at64)},"recall_256":${ratio(at256)},$plantedJson}""")
    docs.unpersist()
    spark.stop()
  }
}
