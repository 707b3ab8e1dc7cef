package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Aggregates, Entry, Geo, Metrics, Relational, Scalars, Search}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every declared operator from SURVEY.md §2 registers here: `queries`
  * feeds Verify (DuckDB-oracle hash compare at sf0.01) and Bench; entries
  * whose output is engine-specific (sketches, LSH) have no oracle SQL and
  * get the driver's rows-only check.
  */
object SparkEntry {

  // SQL entry path (SURVEY.md §3.4 C): entries without an explicit
  // Spark-dialect twin get one derived from the oracle SQL by the dialect
  // bridge (`Entry.sparkSql`). An `Entry.sql` entry runs that twin as its
  // only implementation, so Verify checks it against the DuckDB oracle;
  // for an entry with a DataFrame body, SqlParitySpec executes the twin
  // against the body, so a bad derivation cannot pass silently. A
  // derivation REJECT (rule token inside a string literal) is isolated to
  // that entry — recorded in [[twinDerivationErrors]], failed by
  // SqlParitySpec and thrown by an `Entry.sql` entry's `fn` — instead of
  // throwing here, where one bad oracle would take down registration for
  // every unrelated bench/correctness run.
  val allEntries: Seq[Entry] =
    Relational.entries ++
    Aggregates.entries ++
    Scalars.entries ++
    Geo.entries ++
    Metrics.entries ++
    Search.entries ++
    sync.SyncQueries.entries ++
    streaming.Streams.entries ++
    text.Text.entries ++
    text.Pipeline.entries ++
    text.Utf8Repair.entries ++
    text.Normalize.entries ++
    text.Html.entries ++
    text.Urls.entries ++
    text.LangId.entries ++
    text.Robots.entries ++
    text.Sitemap.entries ++
    text.Domains.entries ++
    text.Funnel.entries ++
    text.LinkGraph.entries ++
    text.Anchors.entries ++
    text.QualityModel.entries ++
    text.Perceptron.entries ++
    text.Unigram.entries ++
    text.Sentences.entries ++
    text.Pii.entries ++
    vector.Vectors.entries ++
    multimodal.Multimodal.entries ++
    multimodal.MmEmbed.entries ++
    multimodal.Video.entries ++
    multimodal.Spectral.entries ++
    multimodal.Ulaw.entries ++
    multimodal.Flac.entries ++
    multimodal.PerceptualHash.entries ++
    multimodal.AspectBuckets.entries ++
    multimodal.Vad.entries ++
    multimodal.Resample.entries ++
    multimodal.Tiff.entries ++
    ingest.Shards.entries ++
    ingest.CompressedShards.entries ++
    ingest.ZipShards.entries ++
    ingest.WarcShards.entries ++
    ingest.Redirects.entries

  /** Names whose `spark.sql` twin was DERIVED by the dialect bridge (vs
    * declared explicitly) — DialectFuzzSpec pins literal-region
    * preservation over exactly this set. */
  val bridgedTwins: Set[String] = allEntries.filter(_.bridgedTwin).map(_.name).toSet

  /** Twin-derivation rejects by entry name (empty in a healthy build);
    * SqlParitySpec fails each named entry individually. */
  val twinDerivationErrors: Map[String, String] =
    allEntries.flatMap(e => e.twinError.map(e.name -> _)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mini-TPC-H-Q5: the 6-table join + revenue rollup. */
  def entry(spark: SparkSession): DataFrame =
    queriesByName("q20_join5").fn(spark, "/root/testdata/sf0.001")

  private def queriesByName(n: String): Entry = allEntries.find(_.name == n).get

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allEntries.map(e => e.name -> e.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allEntries.flatMap(e => e.oracle.map(o => e.name -> o)).toMap
}
