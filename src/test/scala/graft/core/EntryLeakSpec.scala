package graft.core

import graft.{GraftSuite, SparkEntry}

/** Entries own their intermediates: after an entry's result is collected
  * and the frame dropped, a GC leaves no persisted RDD and no
  * CacheManager entry behind — so a long-lived session (the `Ingest`
  * facade's shape) needs no `clearCache()` between calls. One entry from
  * each file that materializes intermediates. */
class EntryLeakSpec extends GraftSuite {

  private val names = Seq(
    "q90_dedup_clusters",          // Pipeline.clusterPairs fixpoint
    "q257_split_leakage",          // Pipeline.winFpRows
    "q258_budget_apportion",       // Pipeline.hamiltonAlloc
    "q268_quality_keeper",         // Pipeline.keeperFrame
    "q225_pagerank",               // LinkGraph.rankFixpoint
    "q245_hits",                   // LinkGraph.hits
    "q233_redirect_resolve",       // Redirects.resolved fixpoint
    "q62_ann_ivf",                 // Vectors.annIvf
    "q148_semantic_dedup",         // Vectors.semanticAssigned
    "q82_significant_terms",       // Text
    "q242_quality_selftrain",      // QualityModel
    "q252_curation_funnel_v2",     // Funnel.reportV2
    "q261_stream_decontaminate",   // Streams (drain-scoped probe set)
    "q159_phrase_suggester",       // Search
    "q51_stream_ingest")           // DocSync.mergeBatch

  private def session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private def persisted = spark.sparkContext.getPersistentRDDs.keySet
  private def cacheEmpty = session.sharedState.cacheManager.isEmpty

  /** Run the entry to completion; no reference to its frame survives. */
  private def collect(name: String): Int =
    SparkEntry.allEntries.find(_.name == name).get.fn(spark, sf).collect().length

  for (name <- names) test(s"$name: nothing stays persisted or cached after a GC") {
    // earlier suites in this JVM may have left their own state behind
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(collect(name) >= 0)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((persisted.nonEmpty || !cacheEmpty) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(persisted.isEmpty, s"persisted RDDs left: $persisted")
    assert(cacheEmpty, "CacheManager still holds entries")
  }
}
