package graft.streaming

import graft.GraftSuite

/** q274 — the curation funnel as an ingest-time gate, pinned the
  * StreamDecontamSpec way: the report assembled from per-batch gate
  * verdicts (three genuinely incremental arrival waves, models as
  * staged artifacts) must equal q252's batch funnel FRAME-FOR-FRAME —
  * batching cannot change any per-doc verdict (a doc's text is complete
  * in its batch; every model is static), and the read-side keeper
  * resolution sees exactly the rows the batch ladder sees. The two
  * entries additionally share one oracle text, so the sf0.01 hash gate
  * pins the same equality cross-engine.
  */
class StreamFunnelSpec extends GraftSuite {

  test("q274: drained gate verdicts reproduce q252's batch funnel exactly") {
    def rows(name: String): Seq[(Int, String, Long)] =
      graft.SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val batch = rows("q252_curation_funnel_v2")
    val drained = rows("q274_stream_funnel_gate")
    assert(batch.length == 8 && batch.head._3 > 0, s"degenerate batch funnel: $batch")
    assert(drained == batch,
      s"ingest-gate funnel diverges from the batch funnel:\n  batch   $batch\n  drained $drained")
    // the gate ladder is non-vacuous end-to-end: the stage-8 survivors
    // are a real, strictly-smaller subset of the fetched corpus
    assert(drained.last._3 > 0 && drained.last._3 < drained.head._3,
      s"stage-8 gate is vacuous: $drained")
    spark.catalog.clearCache()
  }

  test("g7 signal on a held-out doc scores only bigrams the model has seen") {
    import org.apache.spark.sql.functions.col
    import graft.text.Text
    val s = spark
    import s.implicits._
    def toks(docs: (Long, String)*) = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
    // model bigrams (a,b), (b,c), (c,d): every letter is a known w1 or w2
    val (cb, cw1, cw2, tt) =
      Text.knModelTables(Text.bigramPairsOf(toks(1L -> "a b", 2L -> "b c", 3L -> "c d")))
    // not in the training corpus: (b,d) and (a,d) are unseen pairs whose
    // unigrams are both in the model; doc 12 has only a seen pair
    val held = toks(10L -> "a b d", 11L -> "a d", 12L -> "b c")
    def means(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.select(col("doc_id"), col("mean_unat")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val got = means(graft.text.Funnel.lmGateSignals(held, cb, cw1, cw2, tt,
      Seq.fill(graft.text.Perceptron.NumFeatures)(0L)))
    // reference: the inner-join scoring q252's at-rest path uses
    val want = means(Text.knDocMeanOf(
      Text.knScoredAgainst(Text.bigramPairsOf(held), cb, cw1, cw2, tt)))
    assert(got.keySet == Set(10L, 11L, 12L), s"missing gate rows: $got")
    for (d <- got.keys) {
      val w = want.getOrElse(d, None)
      assert(got(d) == w, s"doc $d: gate ${got(d)} vs inner-join $w")
    }
    assert(got(11L).isEmpty && got(10L).isDefined)
    cb.unpersist()
  }
}
