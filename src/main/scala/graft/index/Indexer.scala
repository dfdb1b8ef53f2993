package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzer

/** One-job inverted-index builder.
  *
  * Replaces the reference's two Hadoop-Streaming MapReduce jobs plus the
  * bash grep-routing and the Cassandra loader
  * (`app/index.sh`, `mapreduce/mapper1.py`/`reducer1.py`,
  * `mapper2.py`/`reducer2.py`, `app/load_index.py`) with a single Spark
  * lineage producing four DataFrames:
  *
  *   - [[docStats]]  — `(doc_id, length)`: per-document token count
  *                     (reference table `doc_stats`, minus the title column
  *                     our fixtures don't carry).
  *   - [[postings]]  — `(term, doc_id, tf)`: the inverted index
  *                     (reference `inverted_index`).
  *   - [[vocab]]     — `(term, df)`: document frequency per term
  *                     (reference `vocab`).
  *   - [[meta]]      — 1 row `(total_docs, avg_dl)`, *typed* — replacing
  *                     the reference's stringly `meta` table round-tripped
  *                     through shell env vars (`index.sh:49-50`).
  *
  * Scale design (100 TB corpus, 1000 executors):
  *   - The only wide dependency is the `groupBy(term, doc_id)` in
  *     [[postings]]; Spark plans it as partial HashAggregate (map-side
  *     combine of repeated tokens within a document) → Exchange on
  *     `(term, doc_id)` → final HashAggregate. This is exactly the MR
  *     combiner+shuffle the reference relied on, minus the text
  *     round-trips.
  *   - [[vocab]] reuses the postings' clustering: `groupBy(term)` after a
  *     `(term, doc_id)` exchange is a near-local aggregation (AQE
  *     coalesces). Skewed terms (stopwords) are handled by the partial
  *     agg — each map task emits at most one row per (term, doc) — and by
  *     AQE skew handling on the exchange.
  *   - [[docStats]] and [[meta]] are narrow: token counting is a per-row
  *     expression, the global count/avg is a two-phase agg with a
  *     single-row result.
  *   - [[writeIndex]] partitions postings by a hash bucket of `term` so a
  *     query for k terms prunes to k buckets — the Spark-native analog of
  *     Cassandra's `(term)` partition key (`load_index.py:34-41`).
  */
object Indexer {

  /** Per-document statistics: `(doc_id, length)`, plus `title` when
    * `titleCol` is given — the reference's `doc_stats` carries the title
    * so BM25 results can return it without re-joining the corpus
    * (`app/query.py:86` `first(title)`).
    * Reference: MR job 1 mapper (`mapreduce/mapper1.py:14-18`).
    * Narrow (no shuffle): the token count is a scalar expression.
    */
  def docStats(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               titleCol: Option[String] = None): DataFrame = {
    val cols = Seq(col(idCol).as("doc_id")) ++
      titleCol.map(t => col(t).as("title")) :+
      Analyzer.tokenCount(col(textCol)).as("length")
    corpus.select(cols: _*)
  }

  /** The inverted index: `(term, doc_id, tf)`.
    * Reference: MR job 2 (`mapreduce/mapper2.py:14-18` emits one pair per
    * token occurrence; `reducer2.py:20-44` count-by-(term,doc) over the
    * framework's shuffle-sort). Here: explode → two-phase hash aggregate.
    */
  def postings(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"), explode(Analyzer.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("int").as("tf"))

  /** Positional inverted index: `(term, doc_id, positions, tf)` with
    * `positions` the sorted 0-based token offsets of `term` in the
    * document — the index shape phrase/proximity queries need
    * ([[graft.search.PhraseSearch]]). The reference's index is
    * frequency-only (`mapreduce/mapper2.py:14-18` emits bare
    * `(term, doc)` pairs); positions are the standard search-engine
    * extension of that posting format.
    *
    * Scale: same single wide dependency as [[postings]] — one exchange
    * on `(term, doc_id)`; `collect_list` state per group is the
    * occurrence count of that term in that one document (bounded by
    * document length, not corpus size).
    */
  /** Tag positional rows with each doc's OWN ingest ordinal from the
    * co-located batch-tracked doc_stats — and refuse docs absent from
    * it: an orphan tagged with any existing ordinal would either dodge
    * the incremental audit forever (vouched ordinal) or falsely flag a
    * healthy delta (newest ordinal), so corpus drift must be resolved
    * by indexing the docs first, not papered over with a tag.
    *
    * The guard probes the CORPUS IDS (one column-pruned scan, a
    * superset of the positional rows' docs since zero-token docs emit
    * none), NOT the positional rows: a probe derived from the
    * positional frame would evaluate the whole positional-build
    * lineage a second time — measured as the dominant sf1 regression
    * on every co-located store lifecycle when it briefly shipped that
    * way. And it runs BEFORE any write: an in-job guard (raise_error)
    * would fire only after `mode("overwrite")` already deleted an
    * existing positional table, turning a refusal into data loss. */
  private def inheritDocBatch(spark: org.apache.spark.sql.SparkSession,
                              path: String, pos: DataFrame,
                              corpusIds: DataFrame): DataFrame = {
    val ds = spark.read.parquet(s"$path/doc_stats")
    val orphans = corpusIds.distinct()
      .join(ds.select("doc_id"), Seq("doc_id"), "left_anti")
    require(orphans.isEmpty,
      s"positional corpus has doc(s) absent from doc_stats at $path " +
        s"(e.g. ${orphans.limit(3).collect().mkString(", ")}) — a positional " +
        "row without a frequency twin cannot be batch-tagged consistently; " +
        "appendIndex the docs first")
    pos.join(ds.select("doc_id", "batch"), Seq("doc_id"))
  }

  def positionalPostings(corpus: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"),
        posexplode(Analyzer.tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).cast("int").as("tf"))

  /** Persist positional postings as a term-bucketed store (same layout
    * discipline as [[writeIndex]]'s postings: CRC32 bucket partition →
    * a k-term phrase reads ≤ k of `nBuckets` partitions, statically
    * pruned via the driver-side bucket twin). The positional analog of
    * the frequency store — what [[graft.search.PhraseSearch.searchStore]]
    * queries.
    *
    * `docBuckets`: additionally co-bucket (and sort) the rows by doc_id
    * as a catalog table — the positional face of [[writeIndex]]'s
    * doc-bucketed layout: the batch phrase/proximity rollup groups per
    * `(query_id, doc_id)`, and a doc_id-bucketed scan already satisfies
    * that clustering (doc_id is a subset of the group keys), so the
    * rollup's exchange disappears whenever the query-log join broadcasts
    * (the common serving shape). Defaults to the CO-LOCATED frequency
    * store's recorded doc-bucket layout, so the two tables compose
    * automatically; term-bucket partitioning is kept either way. */
  def writePositional(corpus: DataFrame, path: String, nBuckets: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text",
                      docBuckets: Option[Int] = None): Unit = {
    val spark = corpus.sparkSession
    // a positional table co-located with an existing frequency store
    // joins that store's batch SEQUENCE — each row inherits ITS DOC'S
    // ingest ordinal from doc_stats (the authoritative per-doc record,
    // same discipline as DedupStore.refreshBuckets), NOT the store's
    // newest ordinal: a flat newest-ordinal tag on a multi-batch store
    // would put pre-audit docs inside the next incremental audit's
    // delta and fail its positional⟷postings join. A standalone
    // positional store starts its own sequence at 0.
    val batch = readLongMarker(spark, path, LastBatchMarker).getOrElse(0L)
    val pos = positionalPostings(corpus, idCol, textCol)
    val dsPath = new org.apache.hadoop.fs.Path(s"$path/doc_stats")
    val dsExists = dsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(dsPath)
    lazy val ds = spark.read.parquet(s"$path/doc_stats")
    val coTracked = dsExists && ds.columns.contains("batch")
    val tagged =
      if (coTracked)
        inheritDocBatch(spark, path, pos, corpus.select(col(idCol).as("doc_id")))
      // co-located with a LEGACY (pre-batch-tracking) frequency store:
      // write UNTAGGED to match the store's untagged tables — tagging
      // only the positional table would give the store a mixed schema
      // the moment a later appendIndex (legacy: no marker, untagged)
      // grows it, silently nulling/dropping `batch` on combined reads
      // and breaking the positional audit join
      else if (dsExists) pos
      else pos.withColumn("batch", lit(batch)) // true standalone: own sequence
    docBuckets.orElse(docBucketsOf(spark, path)) match {
      case Some(db) =>
        writeBucketedStoreTable(tagged, path, "positional", db,
          termBuckets = Some(nBuckets))
        writeBucketsMarker(spark, path, db, PositionalDocBucketsMarker)
      case None =>
        // a plain overwrite of a previously doc-bucketed positional table
        // must retire the old layout record and catalog entry — a stale
        // marker would route readers through a bucket spec the new files
        // no longer honor
        spark.sql(s"DROP TABLE IF EXISTS " +
          s"`${catalogTableName(spark, path, "positional")}`")
        // remove the live marker AND any swap aside: readMarker recovers
        // a "missing" marker from the aside, so a reset must drop both
        val pm = new org.apache.hadoop.fs.Path(
          s"$path/$PositionalDocBucketsMarker")
        val pfs = pm.getFileSystem(spark.sparkContext.hadoopConfiguration)
        pfs.delete(pm, false)
        pfs.delete(new org.apache.hadoop.fs.Path(
          s"$path/_$PositionalDocBucketsMarker.swap_old"), false)
        tagged
          .withColumn("term_bucket", termBucket(col("term"), nBuckets))
          .repartition(nBuckets, col("term_bucket"))
          .write.mode("overwrite")
          .partitionBy("term_bucket")
          .parquet(s"$path/positional")
    }
    // start the batch sequence ONLY for a standalone positional store —
    // writing the marker beside a LEGACY (pre-batch-tracking) frequency
    // store would make the next appendIndex tag its rows and mix
    // schemas in the untagged tables (a co-located TRACKED store
    // already has the marker from writeIndex)
    if (!dsExists && readLongMarker(spark, path, LastBatchMarker).isEmpty)
      writeLongMarker(spark, path, LastBatchMarker, batch)
    // per-TABLE marker: a positional store co-located with a frequency
    // index at the same path must not overwrite the frequency store's
    // layout record (or vice versa) — that would silently mis-prune the
    // other store, the exact failure the marker exists to prevent
    writeBucketsMarker(corpus.sparkSession, path, nBuckets, PositionalBucketsMarker)
  }

  /** Document frequency per term: `(term, df)`.
    * Reference: `reducer2.py:46-52` (doc-boundary counting in the sorted
    * stream). Postings are already distinct per `(term, doc_id)`, so a
    * plain count ≡ `countDistinct(doc_id)`.
    */
  def vocab(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** Corpus-level stats as a typed 1-row DataFrame
    * `(total_docs, avg_dl, length_sum)`.
    * Reference: sentinel keys `!!DOC_COUNT` / `!!LENGTH_SUM` funneled
    * through a single reducer (`mapper1.py:20-21`, `reducer1.py:13-37`)
    * then env vars then Cassandra text rows — all replaced by one
    * two-phase aggregate.
    *
    * `length_sum` is the exact long sum behind `avg_dl` — kept so the
    * stored meta is MERGEABLE partial-aggregate state: an append can
    * combine stored sums with the delta's sums and re-derive `avg_dl`
    * with the same single division, bit-identical to a full recompute
    * ([[appendIndex]]'s incremental path). `avg_dl` is defined as
    * sum/count explicitly (not `avg`) so every producer computes it from
    * the same exact longs. */
  def meta(docStats: DataFrame): DataFrame =
    docStats.agg(
      count(lit(1)).as("total_docs"),
      (sum(col("length")).cast("double") / count(lit(1))).as("avg_dl"),
      coalesce(sum(col("length")).cast("long"), lit(0L)).as("length_sum"))

  /** All four index tables built from one corpus scan. */
  final case class InvertedIndex(docStats: DataFrame, postings: DataFrame,
                                 vocab: DataFrame, meta: DataFrame)

  def buildIndex(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 titleCol: Option[String] = None): InvertedIndex = {
    val ds = docStats(corpus, idCol, textCol, titleCol)
    val p  = postings(corpus, idCol, textCol)
    InvertedIndex(ds, p, vocab(p), meta(ds))
  }

  /** Persist the index store as parquet (replacing Cassandra D2–D5,
    * SURVEY.md §1.1). Postings get a `term_bucket` partition column so a
    * k-term query reads ≤ k of `nBuckets` partitions (partition pruning —
    * the parquet analog of Cassandra's partition-key pushdown the
    * reference got from the connector, `query.py:43,50`). The bucket
    * function is CRC32-based so the *driver* can compute bucket literals
    * for a query's terms (enabling static partition pruning) with the
    * exact same function executors used at write time.
    */
  def writeIndex(ix: InvertedIndex, path: String, nBuckets: Int = 64,
                 docBuckets: Option[Int] = None): Unit = {
    // every store row carries the ingest-batch ordinal that wrote it
    // (constant per parquet file, so min/max statistics let an
    // incremental audit's `batch > since` filter skip pre-audit files
    // outright — see [[checkStoreIncremental]]); the initial build is
    // batch 0, each append bumps the `_lastbatch` marker
    // doc_stats and postings land at disjoint paths from disjoint
    // lineages — overlap the two writes (guide §2.6) so one write's
    // planning/commit latency back-fills with the other's tasks
    docBuckets match {
      case Some(db) =>
        // doc-bucketed layout: postings AND doc_stats co-bucketed (and
        // sorted within buckets) by doc_id as external catalog tables —
        // the scoring join postings ⋈ doc_stats then plans with NO
        // exchange on either side (the shuffle is paid once here, at
        // write time, and amortized over every query). term_bucket
        // partitioning is kept on postings, so static term pruning and
        // doc-co-location COMPOSE. See [[docBucketsOf]] for the layout
        // record and [[registerBucketedTable]] for cross-session reads.
        graft.operators.Par.run(
          () => writeBucketedStoreTable(ix.docStats.withColumn("batch", lit(0L)),
            path, "doc_stats", db, termBuckets = None),
          () => writeBucketedStoreTable(
            ix.postings.withColumn("batch", lit(0L)),
            path, "postings", db, termBuckets = Some(nBuckets)))
        writeBucketsMarker(ix.postings.sparkSession, path, db, DocBucketsMarker)
      case None =>
        graft.operators.Par.run(
          () => ix.docStats.withColumn("batch", lit(0L))
            .write.mode("overwrite").parquet(s"$path/doc_stats"),
          () => ix.postings
            .withColumn("batch", lit(0L))
            .withColumn("term_bucket", termBucket(col("term"), nBuckets))
            // co-locate each bucket's rows in one task before the partitioned
            // write: without this every task writes a file into every bucket
            // dir (tasks × buckets small files — measured dominating the store
            // write); with it, one file per bucket
            .repartition(nBuckets, col("term_bucket"))
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(s"$path/postings"))
    }
    // derive the small tables from the JUST-PERSISTED copies: vocab/meta
    // over the original lineages would re-run the whole tokenize/explode/
    // aggregate chain a second (and third) time — reading the stored
    // postings/doc_stats back costs one cheap scan instead (measured ~2×
    // on the store-write lifecycle)
    val spark = ix.postings.sparkSession
    // fresh builds write the flat layout; overwriting the ROOT derived
    // dirs of a frame-installed store would leave the pointer serving
    // the old generations — refuse loudly (rebuild = delete first)
    require(graft.operators.Frames.currentVersion(spark, path).isEmpty,
      s"writeIndex: $path carries a frame-installed derived pair (_frame " +
        "pointer) — delete the store before rebuilding over it")
    // vocab and meta read DIFFERENT just-persisted tables: independent,
    // overlap them (guide §2.6)
    graft.operators.Par.run(
      () => vocab(spark.read.parquet(s"$path/postings").select("term", "doc_id", "tf"))
        .write.mode("overwrite").parquet(s"$path/vocab"),
      () => meta(spark.read.parquet(s"$path/doc_stats"))
        .write.mode("overwrite").parquet(s"$path/meta"))
    writeBucketsMarker(spark, path, nBuckets)
    writeLongMarker(spark, path, LastBatchMarker, 0L)
  }

  /** Incrementally add documents to a persisted index store: postings and
    * doc_stats for the new docs APPEND into the existing parquet (new
    * row-groups in the same term_bucket partitions — no rewrite of
    * existing data), a co-located positional table grows with the same
    * batch ([[appendPositional]]), and the small derived tables (vocab,
    * meta) MERGE the delta's mergeable partials ([[mergeDerived]]).
    *
    * Scale: every table grows append-only and every maintenance step is
    * ∝ the NEW corpus (plus the |vocab|-row merge). The reference had no
    * incremental path at all (full `index.sh` re-run, dropping the
    * Cassandra tables, `app/index.sh:22-28`).
    *
    * Caller contract: new doc_ids must not already exist in the store
    * (duplicate doc_ids would double-count postings, same as re-running
    * the reference's loader twice). ENFORCED below: a semi-join probe
    * against the stored doc_stats turns silent double-counting into a
    * fast failure before anything is written.
    */
  def appendIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  newCorpus: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", titleCol: Option[String] = None,
                  nBuckets: Int = 64): Unit = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    // the store's own recorded layout wins over the parameter — a
    // mismatched append would land rows in partitions pruning never probes
    val nb = storedBuckets(spark, path).getOrElse(nBuckets)
    // duplicate-doc guard: one distributed semi join (no collect), checked
    // before the first byte is appended so a violation leaves the store
    // untouched
    val overlapping = newCorpus.select(col(idCol).as("doc_id"))
      .join(spark.read.parquet(s"$path/doc_stats").select("doc_id"),
        Seq("doc_id"), "left_semi")
    require(overlapping.isEmpty,
      s"appendIndex: some doc_ids in the new corpus already exist in the " +
        s"store at $path — appending them would double-count postings. " +
        s"Example: ${overlapping.limit(3).collect().mkString(", ")}")
    // the batch ordinal this append writes under (None on a pre-marker
    // legacy store: tagging it would give the store a mixed schema)
    val batchId = readLongMarker(spark, path, LastBatchMarker).map(_ + 1)
    def tag(df: DataFrame): DataFrame =
      batchId.map(b => df.withColumn("batch", lit(b))).getOrElse(df)
    val delta = buildIndex(newCorpus, idCol, textCol, titleCol)
    // the three table appends (doc_stats, postings, co-located
    // positional) land at disjoint paths from independent lineages —
    // overlap them (guide §2.6). Crash ordering is unchanged: the batch
    // marker still advances only after ALL of them committed.
    val appendTables: Seq[() => Unit] = (docBucketsOf(spark, path) match {
      case Some(db) =>
        // doc-bucketed store: the delta appends THROUGH the catalog with
        // the store's own bucket spec (by-name column resolution; a
        // mismatched spec fails loudly instead of silently degrading the
        // layout). Each append adds one file per (bucket × touched
        // term-partition) — bucket-suffixed names keep the zero-shuffle
        // join valid, and the partition re-sync on the next read picks
        // up any new term_bucket dirs.
        val dsName = registerBucketedTable(spark, path, "doc_stats", db,
          partitioned = false)
        val poName = registerBucketedTable(spark, path, "postings", db,
          partitioned = true)
        Seq(
          () => tag(delta.docStats).repartition(db, col("doc_id"))
            .write.format("parquet")
            .bucketBy(db, "doc_id").sortBy("doc_id")
            .mode("append").saveAsTable(dsName),
          () => tag(delta.postings)
            .withColumn("term_bucket", termBucket(col("term"), nb))
            .repartition(db, col("doc_id"))
            .write.format("parquet")
            .partitionBy("term_bucket")
            .bucketBy(db, "doc_id").sortBy("doc_id")
            .mode("append").saveAsTable(poName))
      case None =>
        Seq(
          () => tag(delta.docStats).write.mode("append").parquet(s"$path/doc_stats"),
          () => tag(delta.postings)
            .withColumn("term_bucket", termBucket(col("term"), nb))
            .repartition(nb, col("term_bucket"))
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(s"$path/postings"))
    })
    // a CO-LOCATED positional table must grow with the same batch —
    // otherwise the phrase/proximity faces would silently miss the
    // appended docs (the append-side twin of the delete-consistency
    // invariant). The doc_stats duplicate guard above already vouches
    // for the batch, so the positional probe is skipped.
    val pos = new org.apache.hadoop.fs.Path(s"$path/positional")
    val positionalStep: Seq[() => Unit] =
      if (pos.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pos))
        Seq(() => appendPositional(spark, path, newCorpus, idCol, textCol,
          nBuckets, checkDuplicates = false, batchId = batchId))
      else Seq.empty
    graft.operators.Par.run(appendTables ++ positionalStep: _*)
    // the marker advances LAST: a crash mid-append leaves the marker at
    // the old value, so the next incremental audit still covers every
    // row the interrupted append managed to land (they carry the
    // not-yet-vouched-for batch ordinal)
    batchId.foreach(b => writeLongMarker(spark, path, LastBatchMarker, b))
    // derived tables: merged INCREMENTALLY from the delta — work ∝
    // |batch| + |vocab|, never ∝ the stored postings (the r6 full
    // recompute re-aggregated the whole store on every append). Sound
    // because the stored vocab/meta track the LIVE view (maintained at
    // every delete/append) and the appended docs are disjoint from every
    // doc_id the store has ever seen — live or tombstoned (the duplicate
    // guard above checks doc_stats, which RETAINS tombstoned rows) — so
    // live(after) = live(before) ⊎ delta and the merge is exact
    mergeDerived(spark, path, delta)
  }

  /** Incrementally add documents to a persisted POSITIONAL store
    * ([[writePositional]]): the batch's positional postings append as
    * new row-groups in the store's existing term_bucket partitions (its
    * OWN recorded layout — never the parameter when a marker exists).
    * Called automatically by [[appendIndex]] for a co-located store;
    * call it directly for a standalone positional store.
    *
    * `checkDuplicates = true` (the standalone default) probes the store
    * for the batch's doc_ids first — one column-pruned scan of the
    * positional table (doc_id is not the partition key, so the probe
    * cannot prune; a maintenance-path cost, same failure-over-corruption
    * trade as appendIndex's guard). [[appendIndex]] passes false: its
    * doc_stats guard already vouches for the batch, and it passes the
    * shared `batchId` so both tables' rows land under the SAME ingest
    * ordinal; standalone calls derive the next ordinal and advance the
    * marker themselves. */
  def appendPositional(spark: org.apache.spark.sql.SparkSession, path: String,
                       newCorpus: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", nBuckets: Int = 64,
                       checkDuplicates: Boolean = true,
                       batchId: Option[Long] = None): Unit = {
    val nb = storedPositionalBuckets(spark, path).getOrElse(nBuckets)
    if (checkDuplicates) {
      val overlapping = newCorpus.select(col(idCol).as("doc_id")).distinct()
        .join(spark.read.parquet(s"$path/positional").select("doc_id"),
          Seq("doc_id"), "left_semi")
      require(overlapping.isEmpty,
        s"appendPositional: some doc_ids in the new corpus already exist in " +
          s"the positional store at $path — appending them would double-count " +
          s"positions. Example: ${overlapping.limit(3).collect().mkString(", ")}")
    }
    val standalone = batchId.isEmpty
    val pos = positionalPostings(newCorpus, idCol, textCol)
    val dsPath = new org.apache.hadoop.fs.Path(s"$path/doc_stats")
    val dsExists = dsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(dsPath)
    lazy val dsTracked =
      spark.read.parquet(s"$path/doc_stats").columns.contains("batch")
    // a standalone append beside a TRACKED frequency store is a
    // positional BACKFILL of already-indexed docs: rows inherit each
    // doc's own ordinal (a flat lastBatch+1 tag would put batches the
    // audit already vouched for back into the next delta and fail its
    // positional⟷postings join); no new ordinal is created so the
    // marker does not advance. appendIndex's co-located path passes the
    // batch explicitly; a true standalone store starts its own sequence.
    val coTrackedBackfill = standalone && dsExists && dsTracked
    val b = batchId.orElse(readLongMarker(spark, path, LastBatchMarker).map(_ + 1))
    val tagged =
      if (coTrackedBackfill)
        inheritDocBatch(spark, path, pos, newCorpus.select(col(idCol).as("doc_id")))
      else b.map(x => pos.withColumn("batch", lit(x))).getOrElse(pos) // legacy: untagged
    positionalDocBucketsOf(spark, path) match {
      case Some(db) =>
        // doc-bucketed positional table: append THROUGH the catalog with
        // the store's own bucket spec (same discipline as appendIndex's
        // bucketed branch — bucket-suffixed file names keep the
        // exchange-free rollup valid across appends)
        val name = registerBucketedTable(spark, path, "positional", db,
          partitioned = true)
        tagged
          .withColumn("term_bucket", termBucket(col("term"), nb))
          .repartition(db, col("doc_id"))
          .write.format("parquet")
          .partitionBy("term_bucket")
          .bucketBy(db, "doc_id").sortBy("doc_id")
          .mode("append").saveAsTable(name)
      case None =>
        tagged
          .withColumn("term_bucket", termBucket(col("term"), nb))
          .repartition(nb, col("term_bucket"))
          .write.mode("append")
          .partitionBy("term_bucket")
          .parquet(s"$path/positional")
    }
    if (standalone && !coTrackedBackfill)
      b.foreach(x => writeLongMarker(spark, path, LastBatchMarker, x))
  }

  /** Drop the rows a CRASHED [[appendIndex]] managed to land — the repair
    * primitive behind the streaming ingest face's halt-loudly contract
    * ([[graft.streaming.StreamRuntime.runIndexIngest]]). The
    * marker-advances-last discipline makes the partial append exactly
    * identifiable: its rows carry a batch ordinal the `_lastbatch` marker
    * never recorded (`batch > marker`), so this rewrites doc_stats /
    * postings / a co-located positional table keeping `batch <= marker`
    * rows only, layouts preserved, installed via the crash-safe swap.
    * vocab/meta need no touch: [[appendIndex]] merges them only after the
    * marker advances, so in this window they still describe the
    * pre-append store the rollback restores. No-op on a store with no
    * orphaned rows; refuses a legacy (untracked) store.
    *
    * Scale: one full rewrite of the big tables — a crash-REPAIR job run
    * once after a failed append (the detect side is [[appendIndex]]'s own
    * duplicate guard halting the replay), never an ingest-path cost.
    */
  def rollbackPartialAppend(spark: org.apache.spark.sql.SparkSession,
                            path: String): Unit = {
    val marker = lastBatch(spark, path).getOrElse(throw new IllegalStateException(
      s"rollbackPartialAppend: no batch marker at $path — a legacy store's " +
        "partial append cannot be identified by ordinal; rebuild instead"))
    val ds = spark.read.parquet(s"$path/doc_stats")
    require(ds.columns.contains("batch"),
      s"rollbackPartialAppend: store at $path carries no batch ordinals")
    val posPath = new org.apache.hadoop.fs.Path(s"$path/positional")
    val hasPos = posPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(posPath)
    lazy val posDf = spark.read.parquet(s"$path/positional")
    // the no-op probe must cover EVERY table this rollback repairs: a
    // rollback that itself crashed between the doc_stats/postings swaps
    // and the positional rewrite would otherwise report "nothing
    // orphaned" on re-run and leave the positional orphans to
    // double-count under the retried append
    lazy val posOrphaned = hasPos && posDf.columns.contains("batch") &&
      !posDf.filter(col("batch") > marker).isEmpty
    if (ds.filter(col("batch") > marker).isEmpty &&
        spark.read.parquet(s"$path/postings").filter(col("batch") > marker).isEmpty &&
        !posOrphaned)
      return // nothing orphaned — the append either completed or never started
    docBucketsOf(spark, path) match {
      case Some(db) =>
        rewriteBucketedStoreTable(spark, path, "doc_stats",
          ds.filter(col("batch") <= marker), db, partitioned = false)
        rewriteBucketedStoreTable(spark, path, "postings",
          spark.read.parquet(s"$path/postings").filter(col("batch") <= marker),
          db, partitioned = true)
      case None =>
        ds.filter(col("batch") <= marker)
          .write.mode("overwrite").parquet(s"$path/doc_stats_tmp")
        val nb = storedBuckets(spark, path).getOrElse(64)
        spark.read.parquet(s"$path/postings").filter(col("batch") <= marker)
          .repartition(nb, col("term_bucket"))
          .write.mode("overwrite").partitionBy("term_bucket")
          .parquet(s"$path/postings_tmp")
        swapTable(spark, path, "doc_stats")
        swapTable(spark, path, "postings")
    }
    if (hasPos && posDf.columns.contains("batch")) {
      positionalDocBucketsOf(spark, path) match {
        case Some(db) =>
          rewriteBucketedStoreTable(spark, path, "positional",
            posDf.filter(col("batch") <= marker), db, partitioned = true)
        case None =>
          val pnb = storedPositionalBuckets(spark, path).getOrElse(64)
          posDf.filter(col("batch") <= marker)
            .repartition(pnb, col("term_bucket"))
            .write.mode("overwrite").partitionBy("term_bucket")
            .parquet(s"$path/positional_tmp")
          swapTable(spark, path, "positional")
      }
    }
  }

  /** Incremental derived-table maintenance behind [[appendIndex]]: the
    * stored vocab IS a mergeable per-term partial (df sums), the stored
    * meta carries exact mergeable long sums (total_docs, length_sum) —
    * the [[graft.pipeline.IncrementalAgg]] partial-view pattern applied
    * to the index's own derived state. `avg_dl` is re-derived from the
    * merged exact sums with the same one division [[meta]] uses, so the
    * result is BIT-identical to a full [[refreshDerived]]
    * (spec-verified), at delta cost.
    *
    * Scale: the vocab merge shuffles |stored vocab| + |delta vocab| rows
    * (the term domain, not the corpus); the meta merge is two 1-row
    * frames. Installed via the same crash-safe swap as refreshDerived —
    * which remains the repair/compaction path (and the fallback for a
    * store whose meta predates the mergeable `length_sum` layout). */
  private def mergeDerived(spark: org.apache.spark.sql.SparkSession, path: String,
                           delta: InvertedIndex): Unit = {
    val storedMeta = spark.read.parquet(derivedTablePath(spark, path, "meta"))
    if (!storedMeta.columns.contains("length_sum")) {
      refreshDerived(spark, path); return
    }
    // one manifest-frame install for the PAIR (VERDICT r18 #1): the two
    // sequential swaps this replaces could crash between them and serve
    // a new vocab against an old meta — df and N disagreeing skews every
    // BM25 score until the next repair
    val stage = graft.operators.Frames.begin(spark, path, DerivedTables)
    // the two staged tables derive from independent inputs — overlap
    // them (guide §2.6); the frame still commits only after both landed
    graft.operators.Par.run(
      () => spark.read.parquet(derivedTablePath(spark, path, "vocab"))
        .select("term", "df")
        .unionByName(vocab(delta.postings))
        .groupBy("term").agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(stage.stageDir("vocab")),
      () => {
        val deltaMeta = delta.docStats.agg(
          count(lit(1)).as("d_n"),
          coalesce(sum(col("length")).cast("long"), lit(0L)).as("d_sum"))
        storedMeta.crossJoin(deltaMeta)
          .select(
            (col("total_docs") + col("d_n")).as("total_docs"),
            // an empty merged store nulls avg_dl exactly like meta() over zero rows
            when(col("total_docs") + col("d_n") === 0, lit(null).cast("double"))
              .otherwise((col("length_sum") + col("d_sum")).cast("double") /
                (col("total_docs") + col("d_n"))).as("avg_dl"),
            (col("length_sum") + col("d_sum")).as("length_sum"))
          .write.mode("overwrite").parquet(stage.stageDir("meta"))
      })
    stage.commit()
  }

  /** Recompute vocab and meta from the LIVE view (postings/doc_stats
    * minus tombstones) and install them via the crash-safe swap
    * (graft.FsOps.atomicSwap): rename the live table ASIDE (not
    * delete-then-rename, which has a window with NO vocab/meta at all),
    * install the new one, then drop the old copy — rename failures roll
    * back instead of deleting the last copy. FS is resolved from the
    * path itself so a store on a non-default filesystem (s3a://,
    * hdfs://) works. Never collects to the driver (vocab is |terms|
    * rows at scale).
    *
    * This is also the store's REPAIR step: [[deleteDocs]] commits its
    * tombstone append before the derived tables swap, so a crash in
    * that window leaves live-filtered postings with stale vocab/meta
    * (df and N still counting deleted docs — BM25 scores skew until the
    * next delete/append). Call this directly to restore the invariant —
    * re-running the interrupted deleteDocs does NOT repair (its
    * already-tombstoned ids filter makes the re-run a no-op), and the
    * incremental delete/append maintenance paths assume the stored
    * vocab/meta are live-consistent.
    */
  def refreshDerived(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val live = readIndexLive(spark, path)
    val stage = graft.operators.Frames.begin(spark, path, DerivedTables)
    graft.operators.Par.run(
      () => vocab(live.postings.select("term", "doc_id", "tf"))
        .write.mode("overwrite").parquet(stage.stageDir("vocab")),
      () => meta(live.docStats).write.mode("overwrite")
        .parquet(stage.stageDir("meta")))
    stage.commit()
  }

  /** Heal a crashed [[deleteDocs]]'s stale derived tables. Its one
    * remaining crash window — tombstone append committed, the staged
    * derived frame never flipped — leaves the stored vocab/meta counting
    * the newly-dead docs, and the re-run (same ids, all already
    * tombstoned) would otherwise early-return and seal the drift
    * forever. The witness is the store's own invariant: stored
    * `meta.total_docs` must equal the LIVE doc count (doc_stats minus
    * tombstones); on mismatch both tables rebuild from the live view
    * (the staged-but-unflipped frame is debris — readers never saw it,
    * and the rebuild stages over it). This replaces the r18
    * `healPendingDerived` tmp-vouching probe: with the pair now
    * committing through ONE manifest-frame flip there are no half-
    * installed `_tmp` states left to adjudicate — only "flipped"
    * (consistent) or "never flipped" (rebuild). */
  private def healDerivedIfStale(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Unit = {
    val stored = spark.read.parquet(derivedTablePath(spark, path, "meta"))
      .select(col("total_docs")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).head()
    if (stored != readIndexLive(spark, path).docStats.count())
      refreshDerived(spark, path)
  }

  /** Install `<name>_tmp` over the live `<name>` table (crash-safe
    * rename-aside swap — see the appendIndex commentary). */
  private def swapTable(spark: org.apache.spark.sql.SparkSession,
                        path: String, name: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$path/$name")
    val tmp  = new org.apache.hadoop.fs.Path(s"$path/${name}_tmp")
    graft.FsOps.atomicSwap(
      live.getFileSystem(spark.sparkContext.hadoopConfiguration), live, tmp)
  }

  /** The derived pair commits as ONE manifest frame
    * ([[graft.operators.Frames]], VERDICT r18 #1): vocab and meta are
    * consumed TOGETHER by every scorer (df against N/avg_dl), so the two
    * sequential swaps the r18 maintenance used had a crash window that
    * served a new vocab against an old meta — skewed BM25 until the next
    * repair. Fresh builds keep the flat layout; the big tables
    * (postings/doc_stats/positional) are NOT framed — their maintenance
    * orders tombstone drops last, so every intermediate state serves the
    * correct live view (spec-proven), and the doc-bucketed faces' catalog
    * registration binds to stable root URIs. */
  private val DerivedTables = Seq("vocab", "meta")

  /** Resolved directory of a derived table (`vocab`/`meta`) in the
    * store's CURRENT frame — the entry every reader goes through (a raw
    * `<path>/vocab` read serves a SUPERSEDED generation on any
    * frame-installed store). */
  def derivedTablePath(spark: org.apache.spark.sql.SparkSession,
                       path: String, table: String): String = {
    require(DerivedTables.contains(table),
      s"'$table' is not a framed derived table: $DerivedTables")
    graft.operators.Frames.resolve(spark, path, table)
  }

  /** Soft-delete documents from a persisted index store — Lucene-style
    * tombstones: the doc ids append into a `deletes` side table and the
    * postings/doc_stats parquet is NEVER rewritten (deleting from a
    * term-bucketed layout would touch every bucket); readers subtract
    * the tombstone set ([[readIndexLive]]). The derived tables (vocab,
    * meta) are DECREMENTED by the newly-dead docs' contribution and
    * swapped, so stored df and corpus stats track live documents only —
    * search over the store answers exactly like a fresh index built
    * without the deleted docs (gate-verified).
    *
    * Ids not present in the store are ignored, and ids already
    * tombstoned are filtered out before anything is written (idempotent;
    * re-deleting is a true no-op and the tombstone table stays
    * duplicate-free). Deleted ids stay reserved: [[appendIndex]]'s
    * duplicate guard still sees them in doc_stats, and the tombstone
    * applies store-wide — re-adding a deleted id is refused rather than
    * silently resurrected-then-killed.
    *
    * Scale: the tombstone append is ∝ the delete batch, and the derived
    * maintenance is the decrement twin of [[appendIndex]]'s merge — the
    * dead docs' per-term df comes from one semi-joined pass over the
    * postings store whose SHUFFLE carries only the dead docs' rows
    * (the scan itself is unavoidable without a doc-keyed postings
    * layout: delete gets the dead terms from the store, not from text
    * it no longer has), then per-term subtraction against the |vocab|
    * view and a 1-row meta decrement from exact long sums —
    * bit-identical to the full recompute (spec-verified). Query-time
    * cost is one anti-join against the (typically tiny, broadcastable)
    * tombstone set.
    */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, path: String,
                 ids: DataFrame, idCol: String = "doc_id"): Unit = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    // only ids that exist AND are not already tombstoned contribute —
    // re-decrementing an already-dead doc would corrupt df/meta
    // newDead is consumed four times below (emptiness probe, vocab
    // decrement semi-join, meta decrement semi-join, tombstone append) —
    // persist it so the anti/semi-join chain that derives it runs once,
    // not once per consumer (guide §1.2: don't recompute what you
    // already have; delete batches are small by contract)
    val newDead = minusDeletes(spark, path,
      ids.select(col(idCol).as("doc_id")).distinct()
        .join(spark.read.parquet(s"$path/doc_stats").select("doc_id"),
          Seq("doc_id"), "left_semi")).persist()
    if (newDead.isEmpty) {
      newDead.unpersist()
      // Nothing new to tombstone — but a prior deleteDocs on these SAME
      // ids may have crashed between its tombstone append and its
      // derived-frame flip, leaving the stored vocab/meta counting the
      // dead docs. That crash makes this resume path the ONLY caller
      // that ever sees the inconsistency (the ids are already
      // tombstoned, so the normal body never runs again), and without
      // healing here a cascade resume (Forget) would seal its manifest
      // over a store whose df/total_docs/avg_dl still count the dead
      // docs. The staleness witness (total_docs vs live count) decides;
      // on drift both tables rebuild from the live view.
      healDerivedIfStale(spark, path)
      return
    }
    val storedMeta = spark.read.parquet(derivedTablePath(spark, path, "meta"))
    if (!storedMeta.columns.contains("length_sum")) {
      // store predates the mergeable meta layout: tombstone + full recompute
      newDead.write.mode("append").parquet(s"$path/deletes")
      newDead.unpersist()
      refreshDerived(spark, path)
      return
    }
    // the decremented tables must materialize (stage) BEFORE the
    // tombstone append: newDead anti-joins the deletes table it is about
    // to grow. The staged frame is invisible until the flip, so the
    // crash window's two shapes are clean: before the append = store
    // unchanged plus dead staged bytes (the re-run redoes everything);
    // after the append but before the flip = the healDerivedIfStale
    // witness on the resume path (see above).
    val stage = graft.operators.Frames.begin(spark, path, DerivedTables)
    // the staged vocab decrement (postings pass) and meta decrement
    // (doc_stats pass) read different tables — overlap them (guide §2.6)
    graft.operators.Par.run(
      () => spark.read.parquet(s"$path/postings").select("term", "doc_id")
        .join(newDead, Seq("doc_id"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("dead_df"))
        .join(spark.read.parquet(derivedTablePath(spark, path, "vocab"))
          .select("term", "df"), Seq("term"), "right_outer")
        .select(col("term"),
          (col("df") - coalesce(col("dead_df"), lit(0L))).as("df"))
        .filter(col("df") > 0) // a term with no live doc left drops, like a fresh build
        .write.mode("overwrite").parquet(stage.stageDir("vocab")),
      () => {
        val deadStats = spark.read.parquet(s"$path/doc_stats")
          .join(newDead, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("d_n"),
            coalesce(sum(col("length")).cast("long"), lit(0L)).as("d_sum"))
        storedMeta.crossJoin(deadStats)
          .select(
            (col("total_docs") - col("d_n")).as("total_docs"),
            // an emptied store nulls avg_dl exactly like meta() over zero rows
            when(col("total_docs") === col("d_n"), lit(null).cast("double"))
              .otherwise((col("length_sum") - col("d_sum")).cast("double") /
                (col("total_docs") - col("d_n"))).as("avg_dl"),
            (col("length_sum") - col("d_sum")).as("length_sum"))
          .write.mode("overwrite").parquet(stage.stageDir("meta"))
      })
    newDead.write.mode("append").parquet(s"$path/deletes")
    newDead.unpersist()
    stage.commit() // ONE flip installs the decremented pair together
  }

  /** Bucket expression matching [[writeIndex]] — used by readers to prune. */
  def termBucket(term: Column, nBuckets: Int = 64): Column =
    pmod(crc32(term), lit(nBuckets.toLong))

  // ---- bucket-count marker: the store records its own layout so an
  // append/search with a mismatched nBuckets can't silently write rows
  // into partitions the pruning literals will never probe (the same
  // fail-safe discipline as UpsertSink's `_nparts`). Readers prefer the
  // marker; the parameter is only the fallback for pre-marker stores.

  private val BucketsMarker = "_nbuckets"
  /** The positional table records its layout under its OWN marker name so
    * co-locating a positional store with a frequency index at one path
    * can't clobber the other store's record. */
  val PositionalBucketsMarker = "_nbuckets_positional"

  private[index] def writeBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                                        path: String, n: Int,
                                        marker: String = BucketsMarker): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- ingest-batch bookkeeping: `_lastbatch` records the highest batch
  // ordinal ever written (writeIndex → 0, each append → +1); `_last_audit`
  // records the highest batch an audit has vouched for. Both are one-int
  // driver-side text files, same discipline as the bucket markers.

  private[graft] val LastBatchMarker = "_lastbatch"
  private[graft] val LastAuditMarker = "_last_audit"

  private def writeLongMarker(spark: org.apache.spark.sql.SparkSession,
                              path: String, marker: String, v: Long): Unit =
    graft.FsOps.writeLongMarker(spark, path, marker, v)

  private def readLongMarker(spark: org.apache.spark.sql.SparkSession,
                             path: String, marker: String): Option[Long] =
    graft.FsOps.readLongMarker(spark, path, marker)

  /** Highest ingest-batch ordinal the store has recorded (None on a
    * store written before batch tracking existed). */
  def lastBatch(spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] =
    readLongMarker(spark, path, LastBatchMarker)

  /** Highest batch ordinal an audit has vouched for (None = never audited). */
  def lastAudited(spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] =
    readLongMarker(spark, path, LastAuditMarker)

  /** Record that every batch up to `upTo` (default: the store's current
    * last batch) has been audited — call it after a clean [[checkStore]]
    * (full) or [[checkStoreIncremental]] report, so the next incremental
    * audit starts after it. Deliberately NOT advanced by the checkers
    * themselves: an audit that mutates the store it audits would make a
    * red report unrepeatable. */
  def markAudited(spark: org.apache.spark.sql.SparkSession, path: String,
                  upTo: Option[Long] = None): Unit = {
    val v = upTo.orElse(lastBatch(spark, path)).getOrElse(
      throw new IllegalStateException(s"markAudited: no batch marker at $path — " +
        "a pre-batch-tracking store has nothing to scope an incremental audit to"))
    writeLongMarker(spark, path, LastAuditMarker, v)
  }

  /** The bucket count a store was written with, if recorded. */
  def storedBuckets(spark: org.apache.spark.sql.SparkSession,
                    path: String, marker: String = BucketsMarker): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    }
  }

  /** Layout record for a positional store ([[writePositional]]): its own
    * marker first, falling back to the shared root marker for stores
    * written before the per-table name existed.
    *
    * Legacy caveat: before the per-table marker, co-locating
    * [[writePositional]] with a frequency index at one path CLOBBERED the
    * shared root marker with the positional layout. New writes can no
    * longer do that, but a pre-existing store may still carry the wrong
    * root record — which is why the store readers run the marker through
    * [[pruningBuckets]] (validate against the physical partition dirs;
    * fall back to an unpruned read rather than mis-prune). One-time
    * migration for such a store: write `_nbuckets` with the FREQUENCY
    * layout's bucket count and `_nbuckets_positional` with the positional
    * one (both are plain single-int text files). */
  def storedPositionalBuckets(spark: org.apache.spark.sql.SparkSession,
                              path: String): Option[Int] =
    storedBuckets(spark, path, PositionalBucketsMarker)
      .orElse(storedBuckets(spark, path))

  // ---- doc-bucketed layout: postings and doc_stats co-bucketed (and
  // sorted within buckets) by doc_id, persisted as EXTERNAL catalog
  // tables at the store path. Spark only exposes bucketed-scan metadata
  // through the catalog, so the store records its layout in the
  // `_docbuckets` marker and readers (re-)register the catalog entries
  // idempotently — a fresh session reads the same files with the same
  // zero-shuffle join, and a plain `spark.read.parquet` of the files
  // stays valid for every path-based maintenance read (fsck, audits).

  /** Marker recording the doc-bucket count of a doc-bucketed store. */
  val DocBucketsMarker = "_docbuckets"

  /** The doc-bucket count a store was written with, if doc-bucketed. */
  def docBucketsOf(spark: org.apache.spark.sql.SparkSession,
                   path: String): Option[Int] =
    storedBuckets(spark, path, DocBucketsMarker)

  /** Per-table doc-bucket marker for the POSITIONAL table (the
    * positional twin of [[DocBucketsMarker]], separate for the same
    * reason the term-bucket markers are per-table: a positional table
    * co-located with a frequency store may carry a different — or no —
    * doc-bucket layout, and each reader must trust only its own
    * table's record). */
  val PositionalDocBucketsMarker = "_docbuckets_positional"

  /** The doc-bucket count the positional table was written with, if
    * doc-bucketed. */
  def positionalDocBucketsOf(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[Int] =
    storedBuckets(spark, path, PositionalDocBucketsMarker)

  /** Marker recording the batch watermark [[compactDocBucketed]] merged
    * through: its rewrite mixes ingest batches inside each bucket file,
    * so file-level `batch > since` min/max skipping is dead for audits
    * whose watermark sits BELOW this value — [[checkStoreIncremental]]
    * reads it to report the forced-full degradation loudly instead of
    * silently paying a full scan. */
  val CompactedThroughMarker = "_compacted_through"

  /** Deterministic session-catalog name for a store table — derived from
    * the (qualified) store path so distinct stores never collide and the
    * same store re-registers under the same name in any session. The
    * digest is the first 16 hex chars of SHA-256 (64 collision bits): a
    * 32-bit digest gave two long-lived stores a real chance of sharing a
    * name, and colliding stores THRASH — each read's location check
    * drops and re-creates the other's catalog entry (correct via
    * idempotent re-registration, but an MSCK re-sync per alternating
    * read). */
  def catalogTableName(spark: org.apache.spark.sql.SparkSession,
                       path: String, table: String): String = {
    val qualified = qualifiedUri(spark, path).toString.stripSuffix("/")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map(b => f"$b%02x").mkString
    s"graft_ix_${hex}_$table"
  }

  private def qualifiedUri(spark: org.apache.spark.sql.SparkSession,
                           path: String): java.net.URI = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toUri
  }

  /** Write one store table in the doc-bucketed layout: repartitioned to
    * its buckets (so each task holds whole buckets — without this every
    * task writes a file into every bucket), bucketed + sorted by doc_id,
    * `term_bucket`-partitioned when `termBuckets` is given, installed as
    * an external table at `path/table` under the deterministic catalog
    * name (replacing any stale registration AND any previous files —
    * overwrite semantics, same as the plain writer). */
  private def writeBucketedStoreTable(df: DataFrame, path: String,
                                      table: String, db: Int,
                                      termBuckets: Option[Int]): Unit = {
    val spark = df.sparkSession
    val name = catalogTableName(spark, path, table)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(s"$path/$table")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    val withPart = termBuckets match {
      case Some(nb) => df.withColumn("term_bucket", termBucket(col("term"), nb))
      case None => df
    }
    val w = withPart.repartition(db, col("doc_id"))
      .write.format("parquet")
      .bucketBy(db, "doc_id").sortBy("doc_id")
      .option("path", qualifiedUri(spark, s"$path/$table").toString)
      .mode("overwrite")
    (if (termBuckets.isDefined) w.partitionBy("term_bucket") else w)
      .saveAsTable(name)
  }

  /** Idempotently (re-)register the catalog entry for a doc-bucketed
    * store table and return its name. An existing entry is kept only if
    * its location AND bucket spec match the store's record (a moved
    * store, a crc-colliding path, or a changed layout drops and
    * re-creates); partitioned tables re-sync their partition list from
    * the directories every time (bounded driver metadata, ≤ nBuckets
    * dirs) so appends/rewrites from other sessions are always visible. */
  private def registerBucketedTable(spark: org.apache.spark.sql.SparkSession,
                                    path: String, table: String, db: Int,
                                    partitioned: Boolean): String = {
    val name = catalogTableName(spark, path, table)
    val loc = qualifiedUri(spark, s"$path/$table")
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
    val cat = spark.sessionState.catalog
    val ok = cat.tableExists(ident) && {
      val md = cat.getTableMetadata(ident)
      md.location == loc && md.bucketSpec.exists(b =>
        b.numBuckets == db && b.bucketColumnNames == Seq("doc_id"))
    }
    if (!ok) {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      // data-column DDL inferred from the files themselves (title is
      // optional; future columns survive re-registration unchanged)
      val fileSchema = spark.read.parquet(s"$path/$table").schema
      val dataCols = fileSchema.filterNot(_.name == "term_bucket")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val cols = if (partitioned) s"$dataCols, `term_bucket` BIGINT" else dataCols
      val partClause = if (partitioned) "PARTITIONED BY (term_bucket) " else ""
      spark.sql(
        s"CREATE TABLE `$name` ($cols) USING PARQUET $partClause" +
          s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $db BUCKETS " +
          s"LOCATION '$loc'")
    }
    if (partitioned) {
      // re-sync the partition list only when the on-disk `term_bucket=`
      // dirs and the catalog's recorded partitions actually DIVERGE (an
      // append/rewrite from another session): an unconditional MSCK per
      // read taxed every warm query job (~0.2 s of driver metadata,
      // measured at p50 in bench_serving.json's single-query face) for a
      // sync that is almost always a no-op. Both sides of the comparison
      // are bounded driver metadata (≤ nBuckets names each).
      val onDisk = observedBuckets(spark, s"$path/$table").keySet
        .map(b => s"term_bucket=$b")
      val inCatalog = cat.listPartitionNames(ident).toSet
      if (onDisk != inCatalog)
        spark.sql(s"MSCK REPAIR TABLE `$name` SYNC PARTITIONS")
    }
    name
  }

  /** Read one table of a doc-bucketed store THROUGH the catalog (the
    * bucketed scan is what makes the doc_id join exchange-free). Any
    * registration failure degrades to the plain parquet read — correct,
    * just shuffled — rather than failing the query. */
  private def bucketedStoreTable(spark: org.apache.spark.sql.SparkSession,
                                 path: String, table: String, db: Int,
                                 partitioned: Boolean): DataFrame =
    try spark.table(registerBucketedTable(spark, path, table, db, partitioned))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] $path/$table: doc-bucketed catalog " +
          s"registration failed (${e.getMessage}) — reading unbucketed " +
          "(correct, but the doc_id join pays its exchange again)")
        spark.read.parquet(s"$path/$table")
    }

  /** Small-file compaction for a DOC-BUCKETED store — the layout-aware
    * twin of [[graft.operators.Compaction]] (whose generic rewrite would
    * strip the bucket-suffixed file names the zero-shuffle join depends
    * on): each big table rewrites through the bucketed writer, merging
    * every append's per-bucket files back to one file per (bucket ×
    * term partition), installed via the same crash-safe swap.
    *
    * Trade, documented for the maintenance loop: the merge mixes ingest
    * batches within each bucket file, so file-level `batch > since`
    * min/max skipping does NOT survive (unlike the plain store's
    * `rangeBy=batch` compaction — range and doc-bucket layouts are
    * mutually exclusive). Run `mark-audited` after compacting, or budget
    * the next audit as a full one; the join layout this store exists for
    * is preserved, which is the right priority for a serving store. */
  def compactDocBucketed(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val freqDb = docBucketsOf(spark, path)
    val posDb = positionalDocBucketsOf(spark, path)
    require(freqDb.isDefined || posDb.isDefined,
      s"compactDocBucketed: no $DocBucketsMarker or " +
        s"$PositionalDocBucketsMarker marker at $path — use the generic " +
        "Compaction for a plain store")
    freqDb.foreach { db =>
      rewriteBucketedStoreTable(spark, path, "postings",
        bucketedStoreTable(spark, path, "postings", db, partitioned = true),
        db, partitioned = true)
      rewriteBucketedStoreTable(spark, path, "doc_stats",
        bucketedStoreTable(spark, path, "doc_stats", db, partitioned = false),
        db, partitioned = false)
    }
    // a co-located (or standalone) doc-bucketed positional table compacts
    // through the same layout-preserving rewrite
    posDb.foreach { db =>
      rewriteBucketedStoreTable(spark, path, "positional",
        bucketedStoreTable(spark, path, "positional", db, partitioned = true),
        db, partitioned = true)
    }
    // record the watermark the merge destroyed file-level batch skipping
    // up to, so the next incremental audit can report its forced-full
    // degradation instead of silently paying it (see CompactedThroughMarker)
    lastBatch(spark, path).foreach(b =>
      writeLongMarker(spark, path, CompactedThroughMarker, b))
  }

  /** Maintenance rewrite of one doc-bucketed store table, layout
    * preserved: the replacement lands as a bucketed external table at
    * `<table>_tmp` (bucket-suffixed file names survive the directory
    * rename), both catalog entries drop (metadata only — external
    * locations keep their files), and the same crash-safe rename-aside
    * swap as the plain path installs it; the next read re-registers from
    * the marker. Shared by [[expungeDeletes]] and
    * [[rollbackPartialAppend]] on doc-bucketed stores. */
  private def rewriteBucketedStoreTable(spark: org.apache.spark.sql.SparkSession,
                                        path: String, table: String,
                                        df: DataFrame, db: Int,
                                        partitioned: Boolean): Unit = {
    val tmpName = catalogTableName(spark, path, table) + "_tmp"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
    val tmpLoc = new org.apache.hadoop.fs.Path(s"$path/${table}_tmp")
    tmpLoc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tmpLoc, true)
    val w = df.repartition(db, col("doc_id"))
      .write.format("parquet")
      .bucketBy(db, "doc_id").sortBy("doc_id")
      .option("path", qualifiedUri(spark, s"$path/${table}_tmp").toString)
      .mode("overwrite")
    (if (partitioned) w.partitionBy("term_bucket") else w).saveAsTable(tmpName)
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
    spark.sql(s"DROP TABLE IF EXISTS `${catalogTableName(spark, path, table)}`")
    swapTable(spark, path, table)
  }

  /** `term_bucket=` partition directories physically present under a
    * bucketed table, by partition value — one driver-side directory
    * listing (bounded metadata: ≤ nBuckets entries). */
  private def observedBuckets(spark: org.apache.spark.sql.SparkSession,
                              tablePath: String): Map[Long, org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator.map(_.getPath)
      .filter(_.getName.startsWith("term_bucket="))
      .map(d => d.getName.stripPrefix("term_bucket=").toLong -> d).toMap
  }

  /** The bucket count to PRUNE a store read with, or None for "read the
    * whole table" — the recorded (or fallback) layout is only trusted
    * after validation against the table's physical `term_bucket=`
    * partition directories. A partition value ≥ the claimed count proves
    * the record stale (e.g. a legacy co-located store whose root marker
    * was clobbered — see [[storedPositionalBuckets]]); pruning with it
    * would silently skip the partitions a query's terms live in, so the
    * reader degrades to a full-table read (correct, slower) instead. */
  def pruningBuckets(spark: org.apache.spark.sql.SparkSession, path: String,
                     table: String, recorded: Option[Int],
                     fallback: Int): Option[Int] =
    validBuckets(path, table, recorded.getOrElse(fallback),
      observedBuckets(spark, s"$path/$table").keys)

  private def validBuckets(path: String, table: String, nb: Int,
                           observed: Iterable[Long]): Option[Int] = {
    val bad = observed.filter(_ >= nb)
    if (bad.isEmpty) Some(nb)
    else {
      System.err.println(s"[graft] $path/$table: recorded bucket count $nb is " +
        s"inconsistent with on-disk partitions (saw term_bucket=${bad.max}) — " +
        "reading UNPRUNED; rewrite the layout markers to restore pruning " +
        "(see Indexer.storedPositionalBuckets)")
      None
    }
  }

  /** Open a term-bucketed table (`postings` or `positional`) for ONE
    * query's buckets — the store access path of every search face, the
    * analog of the reference's Cassandra partition-key lookup. ONE
    * listing of the table root validates the recorded bucket count (as
    * [[pruningBuckets]]) and yields the existing `term_bucket=` dirs;
    * only those among `bucketsOf(nb)` are read (the IN-list filter stays
    * on the read as a PartitionFilter), so no query lists the whole table.
    * None: no dir of the query's buckets exists, nothing can match. A
    * stale record degrades to the full unpruned read; a doc-bucketed
    * table keeps its catalog route. No cache: every call lists afresh,
    * so appends and deletes are always visible. */
  def openTermBuckets(spark: org.apache.spark.sql.SparkSession, path: String,
                      table: String, fallback: Int)
                     (bucketsOf: Int => Seq[Long]): Option[DataFrame] = {
    val dirs = observedBuckets(spark, s"$path/$table")
    val recorded =
      if (table == "positional") storedPositionalBuckets(spark, path)
      else storedBuckets(spark, path)
    validBuckets(path, table, recorded.getOrElse(fallback), dirs.keys) match {
      // an absent or empty table reads (or fails) exactly as unpruned
      case Some(nb) if dirs.nonEmpty =>
        val buckets = bucketsOf(nb).distinct
        val hit = buckets.flatMap(dirs.get)
        if (hit.isEmpty) None
        else Some(storeTable(spark, path, table, hit).filter(col("term_bucket").isin(buckets: _*)))
      case _ => Some(storeTable(spark, path, table))
    }
  }

  /** Anti-join a store's tombstone table (if any) onto a doc_id-keyed
    * frame — the shared live-view filter behind [[readIndexLive]] and the
    * positional store readers ([[graft.search.PhraseSearch]]). Zero extra
    * IO when the store has no `deletes` table. */
  def minusDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                   table: DataFrame): DataFrame = {
    val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
    val fs = del.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(del)) table
    else table.join(spark.read.parquet(s"$path/deletes"), Seq("doc_id"), "left_anti")
  }

  /** Driver-side twin of [[termBucket]] for building pruning literals. */
  def termBucketOf(term: String, nBuckets: Int = 64): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, nBuckets.toLong)
  }

  /** Physically apply accumulated tombstones ([[deleteDocs]]) — the
    * maintenance counterpart of soft delete: postings and doc_stats are
    * rewritten WITHOUT the dead documents (term-bucket layout
    * preserved), installed via the crash-safe swap, and the tombstone
    * table is dropped. A co-located positional table
    * ([[writePositional]]) is rewritten the same way — its OWN layout
    * preserved — BEFORE the tombstones drop, so the positional faces
    * ([[graft.search.PhraseSearch]]) can never serve dead docs after the
    * tombstone set they anti-join is gone. Query plans lose the
    * anti-join; deleted ids are RELEASED (a later [[appendIndex]] may
    * reuse them). vocab/meta are already live (recomputed at delete
    * time) and stay untouched.
    *
    * Scale: one full rewrite of the big tables — a scheduled
    * compaction-class job, NOT an ingest-path cost; run it when the
    * tombstone set's anti-join overhead (or storage of dead rows)
    * outweighs a rewrite, exactly like segment merging in log-based
    * indexes. No-op when no tombstones exist. Crash-safe: every rewrite
    * lands via the rename-aside swap, and a crash before the final
    * tombstone drop leaves `deletes` in place — re-running is idempotent
    * (the anti-joins simply match nothing on already-clean tables).
    */
  def expungeDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                     nBuckets: Int = 64): Unit = {
    val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
    val fs = del.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(del)) return
    val nb = storedBuckets(spark, path).getOrElse(nBuckets)
    val live = readIndexLive(spark, path)
    // the three live-view rewrites are independent tables, and ANY
    // intermediate swap state still serves the correct live view (the
    // tombstone table is only dropped after all of them) — overlap them
    // (guide §2.6)
    val freqSteps: Seq[() => Unit] = docBucketsOf(spark, path) match {
      case Some(db) => Seq(
        // doc-bucketed store: the rewrite preserves the bucketed layout
        // (tmp written as a bucketed table, same crash-safe dir swap —
        // see rewriteBucketedStoreTable)
        () => rewriteBucketedStoreTable(spark, path, "postings",
          live.postings, db, partitioned = true),
        () => rewriteBucketedStoreTable(spark, path, "doc_stats",
          live.docStats, db, partitioned = false))
      case None => Seq(
        () => {
          live.postings
            .repartition(nb, col("term_bucket"))
            .write.mode("overwrite").partitionBy("term_bucket")
            .parquet(s"$path/postings_tmp")
          swapTable(spark, path, "postings")
        },
        () => {
          live.docStats.write.mode("overwrite").parquet(s"$path/doc_stats_tmp")
          swapTable(spark, path, "doc_stats")
        })
    }
    val pos = new org.apache.hadoop.fs.Path(s"$path/positional")
    val posSteps: Seq[() => Unit] =
      if (!fs.exists(pos)) Seq.empty
      else Seq(() => {
        // the positional table keeps its OWN bucket layout, which may
        // differ from the frequency store's (per-table markers)
        val livePos = minusDeletes(spark, path, readPositional(spark, path))
        positionalDocBucketsOf(spark, path) match {
          case Some(db) =>
            rewriteBucketedStoreTable(spark, path, "positional", livePos, db,
              partitioned = true)
          case None =>
            val pnb = storedPositionalBuckets(spark, path).getOrElse(nBuckets)
            livePos
              .repartition(pnb, col("term_bucket"))
              .write.mode("overwrite").partitionBy("term_bucket")
              .parquet(s"$path/positional_tmp")
            swapTable(spark, path, "positional")
        }
      })
    graft.operators.Par.run(freqSteps ++ posSteps: _*)
    fs.delete(del, true)
  }

  /** Integrity check ("fsck") for a persisted index store: one report row
    * per invariant, `(invariant, checked, violations)`, with `violations`
    * all zero for a healthy store. The DETECT step beside
    * [[refreshDerived]]'s repair step — run it after a crash in a
    * maintenance window ([[deleteDocs]]'s documented tombstone-before-swap
    * gap), after a hand migration (bucket-marker rewrite,
    * [[storedPositionalBuckets]]), or on a schedule, then repair: derived
    * drift → refreshDerived; layout drift → rewrite the flagged table
    * with the recorded bucket function; anything else → rebuild.
    *
    * Invariants (in report order):
    *   - `meta_matches_live` — stored meta equals a fresh recompute over
    *     the live view (exact long sums when the store carries
    *     `length_sum`; avg_dl/total_docs for legacy layouts).
    *   - `positional_bucket_layout` / `postings_bucket_layout` — every
    *     row's `term_bucket` partition value equals the store's RECORDED
    *     bucket function of its term: the invariant static pruning
    *     depends on. A violation means pruned queries silently miss rows
    *     (e.g. a clobbered legacy marker, or an append run with the wrong
    *     layout before the marker discipline existed).
    *   - `positional_matches_postings` — a co-located positional table
    *     describes the same live `(term, doc_id, tf)` surface as the
    *     frequency postings, and each positions list is sorted,
    *     duplicate-free, and tf-sized.
    *   - `postings_docs_in_doc_stats` — every posting's doc_id has a
    *     doc_stats row (BM25's length join silently drops orphans).
    *   - `tombstones_valid` — tombstones are duplicate-free and reference
    *     docs the store actually holds ([[deleteDocs]] maintains both; a
    *     foreign id would mean the tombstone append raced a rebuild).
    *   - `vocab_matches_live` — stored vocab equals a fresh per-term df
    *     recompute over the live postings (the exact drift the delete
    *     crash window leaves).
    *
    * Scale: the audit is deliberately UNPRUNED (a checker must read
    * everything to vouch for everything; this is a scheduled-maintenance
    * job, not a query-path cost) — but it is priced per PASS over the
    * big tables, so each audited table is scanned ONCE into a cached
    * projection every invariant shares: postings feed the layout check,
    * the orphan probe, the positional surface AND the vocab recompute
    * from one materialization instead of four scans (measured ~2× on
    * the full lifecycle audit as invariants accrued). The report
    * returns EAGERLY (≤ 7 rows, bounded driver metadata) so the cache
    * is released before return and a detect→repair composition can
    * never re-audit the repaired store through a lazy frame. Tables
    * absent by design (no `positional`, no `deletes`) report
    * checked = 0 rather than dropping rows, so the report schema is
    * stable for monitoring.
    */
  def checkStore(spark: org.apache.spark.sql.SparkSession, path: String,
                 nBuckets: Int = 64): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val hconf = spark.sparkContext.hadoopConfiguration
    def exists(table: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$table")
      p.getFileSystem(hconf).exists(p)
    }
    import graft.operators.StoreCheck.{row, emptyRow => emptyRowIn}
    def emptyRow(name: String): DataFrame = emptyRowIn(spark, name)

    // one shared pass per audited table: serialized cache (spills to
    // disk past executor memory — at audit scale the win is scans
    // saved, not residency)
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val postings = spark.read.parquet(s"$path/postings")
      .select("term", "doc_id", "tf", "term_bucket").persist(storage)
    val docIds = spark.read.parquet(s"$path/doc_stats")
      .select("doc_id", "length").persist(storage)
    val nb = storedBuckets(spark, path).getOrElse(nBuckets)

    val postingsLayout = row("postings_bucket_layout",
      postings.agg(
        count(lit(1)).as("checked"),
        sum(when(col("term_bucket").cast("long") =!= termBucket(col("term"), nb), 1L)
          .otherwise(0L)).as("violations")))

    val orphanDocs = {
      val pd = postings.select("doc_id").distinct()
      row("postings_docs_in_doc_stats",
        pd.agg(count(lit(1)).as("checked")).crossJoin(
          pd.join(docIds, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
    }

    val deletes =
      if (!exists("deletes")) None
      else Some(spark.read.parquet(s"$path/deletes").select("doc_id")
        .persist(storage))
    // live-view filter over the CACHED tables (readIndexLive would
    // re-scan the store a second time per consumer)
    def minusDel(df: DataFrame): DataFrame =
      deletes.map(d => df.join(d, Seq("doc_id"), "left_anti")).getOrElse(df)

    val tombstones = deletes match {
      case None => emptyRow("tombstones_valid")
      case Some(del) =>
        row("tombstones_valid",
          del.agg(count(lit(1)).as("checked"),
              countDistinct(col("doc_id")).as("distinct_ids"))
            .crossJoin(del.join(docIds, Seq("doc_id"), "left_anti")
              .agg(count(lit(1)).as("orphans")))
            .select(col("checked"),
              (col("orphans") + col("checked") - col("distinct_ids")).as("violations")))
    }

    val livePostings = minusDel(postings)

    val vocabCheck = {
      val stored = spark.read.parquet(derivedTablePath(spark, path, "vocab"))
        .select(col("term"), col("df").cast("long").as("stored_df"))
      val fresh = vocab(livePostings.select("term", "doc_id", "tf"))
        .select(col("term"), col("df").cast("long").as("live_df"))
      row("vocab_matches_live",
        stored.join(fresh, Seq("term"), "full_outer").agg(
          sum(when(col("live_df").isNotNull, 1L).otherwise(0L)).as("checked"),
          sum(when(!(col("stored_df") <=> col("live_df")), 1L).otherwise(0L))
            .as("violations")))
    }

    val metaCheck = {
      val stored = spark.read.parquet(derivedTablePath(spark, path, "meta"))
      val fresh = meta(minusDel(docIds))
      val drift =
        if (stored.columns.contains("length_sum"))
          !(col("s.total_docs").cast("long") <=> col("f.total_docs").cast("long")) ||
            !(col("s.length_sum").cast("long") <=> col("f.length_sum").cast("long")) ||
            !(col("s.avg_dl") <=> col("f.avg_dl"))
        else // legacy layout: no exact sums recorded
          !(col("s.total_docs").cast("long") <=> col("f.total_docs").cast("long")) ||
            !(col("s.avg_dl") <=> col("f.avg_dl"))
      row("meta_matches_live",
        stored.alias("s").crossJoin(fresh.alias("f"))
          .select(lit(1L).as("checked"),
            when(drift, 1L).otherwise(0L).as("violations")))
    }

    val posCached =
      if (!exists("positional")) None
      else Some(spark.read.parquet(s"$path/positional")
        // the malformed flag is computed IN the caching pass so the
        // heavy positions arrays never enter the cache — both positional
        // invariants read this slim projection
        .select(col("term"), col("doc_id"), col("tf"), col("term_bucket"),
          when(col("tf") =!= size(col("positions")) ||
            col("positions") =!= array_sort(array_distinct(col("positions"))), 1L)
            .otherwise(0L).as("malformed"))
        .persist(storage))
    val positionalChecks = posCached match {
      case None =>
        Seq(emptyRow("positional_bucket_layout"),
          emptyRow("positional_matches_postings"))
      case Some(pos) =>
        val pnb = storedPositionalBuckets(spark, path).getOrElse(nBuckets)
        val layout = row("positional_bucket_layout",
          pos.agg(
            count(lit(1)).as("checked"),
            sum(when(col("term_bucket").cast("long") =!= termBucket(col("term"), pnb), 1L)
              .otherwise(0L)).as("violations")))
        val livePos = minusDel(pos)
          .select(col("term"), col("doc_id"),
            col("tf").cast("long").as("pos_tf"), col("malformed"))
        val liveFreq = livePostings
          .select(col("term"), col("doc_id"), col("tf").cast("long").as("freq_tf"))
        val surface = row("positional_matches_postings",
          livePos.join(liveFreq, Seq("term", "doc_id"), "full_outer").agg(
            sum(when(col("pos_tf").isNotNull, 1L).otherwise(0L)).as("checked"),
            (sum(when(!(col("pos_tf") <=> col("freq_tf")), 1L).otherwise(0L)) +
              sum(coalesce(col("malformed"), lit(0L)))).as("violations")))
        Seq(layout, surface)
    }

    // fill the shared caches CONCURRENTLY (guide §2.6) before the
    // report's single collect consumes them — same pattern as
    // Forget.checkPipeline's surface fill
    graft.operators.Par.run(
      (Seq(postings, docIds) ++ deletes.toSeq ++ posCached.toSeq)
        .map(df => () => { df.count(); () }): _*)
    try graft.operators.StoreCheck.materialize(spark,
      graft.operators.StoreCheck.report(Seq(metaCheck) ++ positionalChecks ++
        Seq(orphanDocs, postingsLayout, tombstones, vocabCheck)))
    finally {
      postings.unpersist()
      docIds.unpersist()
      deletes.foreach(_.unpersist())
      posCached.foreach(_.unpersist())
    }
  }

  /** Incremental integrity check: audit ONLY the rows appended since the
    * last vouched-for batch ([[markAudited]]) — the daily-cadence audit
    * a 100 TB store needs, where [[checkStore]]'s full scan is the
    * scheduled deep audit. A real store grows by ~daily-batch rows, so
    * the audit that runs every day must cost ∝ the delta, not the store.
    *
    * How the delta stays cheap: every store row carries the ingest-batch
    * ordinal that wrote it, CONSTANT per parquet file — so the
    * `batch > since` filter prunes pre-audit files via parquet min/max
    * statistics before any row IO (footer reads only), and every
    * downstream exchange carries delta rows alone. The one cross-batch
    * input is doc_stats (the narrow ∝-documents table), read to check
    * the delta's ids against the full id surface.
    *
    * Invariants (the delta-scoped structural subset of [[checkStore]];
    * report order = name order):
    *   - `delta_docs_unique` — each delta doc_id has exactly ONE
    *     doc_stats row store-wide (catches a double-applied append —
    *     the corruption appends actually produce).
    *   - `delta_positional_matches_postings` — the co-located positional
    *     table's delta describes the same live `(term, doc_id, tf)`
    *     surface as the frequency delta, positions well-formed
    *     (checked = 0 when no positional table / no batch column).
    *   - `delta_postings_bucket_layout` — every delta posting sits in
    *     the partition the store's recorded bucket function assigns.
    *   - `delta_postings_docs_in_doc_stats` — every delta posting's doc
    *     has a doc_stats row.
    *
    * The GLOBAL derived-state invariants (vocab/meta vs live, tombstone
    * validity) are deliberately absent: they are whole-store statements
    * with no delta decomposition — the scheduled [[checkStore]] deep
    * audit owns them. Requires a batch-tracked store (writeIndex since
    * batch tracking; legacy stores: run the full checker). */
  def checkStoreIncremental(spark: org.apache.spark.sql.SparkSession,
                            path: String, nBuckets: Int = 64,
                            sinceBatch: Option[Long] = None): DataFrame = {
    import graft.operators.StoreCheck.{row, emptyRow}
    val since = sinceBatch.orElse(lastAudited(spark, path)).getOrElse(-1L)
    val postings = spark.read.parquet(s"$path/postings")
    require(postings.columns.contains("batch"),
      s"checkStoreIncremental: store at $path carries no batch ordinals " +
        "(written before batch tracking) — run the full checkStore instead")
    val deltaPost = postings.filter(col("batch") > since)
    val docStats = spark.read.parquet(s"$path/doc_stats")
    val deltaDocs = docStats.filter(col("batch") > since)
    val nb = storedBuckets(spark, path).getOrElse(nBuckets)

    val unique = {
      val counts = docStats.select("doc_id")
        .join(deltaDocs.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("c"))
      row("delta_docs_unique",
        deltaDocs.agg(count(lit(1)).as("checked")).crossJoin(
          counts.agg(coalesce(sum(when(col("c") > 1, 1L).otherwise(0L)), lit(0L))
            .as("violations"))))
    }

    val layout = row("delta_postings_bucket_layout",
      deltaPost.agg(
        count(lit(1)).as("checked"),
        sum(when(col("term_bucket").cast("long") =!= termBucket(col("term"), nb), 1L)
          .otherwise(0L)).as("violations")))

    val orphans = {
      val pd = deltaPost.select("doc_id").distinct()
      row("delta_postings_docs_in_doc_stats",
        pd.agg(count(lit(1)).as("checked")).crossJoin(
          pd.join(docStats.select("doc_id"), Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
    }

    val positionalCheck = {
      val posPath = new org.apache.hadoop.fs.Path(s"$path/positional")
      val present = posPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(posPath)
      lazy val pos = spark.read.parquet(s"$path/positional")
      if (!present || !pos.columns.contains("batch"))
        emptyRow(spark, "delta_positional_matches_postings")
      else {
        val livePos = minusDeletes(spark, path, pos.filter(col("batch") > since))
          .select(col("term"), col("doc_id"),
            col("tf").cast("long").as("pos_tf"),
            when(col("tf") =!= size(col("positions")) ||
              col("positions") =!= array_sort(array_distinct(col("positions"))), 1L)
              .otherwise(0L).as("malformed"))
        val liveFreq = minusDeletes(spark, path, deltaPost)
          .select(col("term"), col("doc_id"), col("tf").cast("long").as("freq_tf"))
        row("delta_positional_matches_postings",
          livePos.join(liveFreq, Seq("term", "doc_id"), "full_outer").agg(
            sum(when(col("pos_tf").isNotNull, 1L).otherwise(0L)).as("checked"),
            (sum(when(!(col("pos_tf") <=> col("freq_tf")), 1L).otherwise(0L)) +
              sum(coalesce(col("malformed"), lit(0L)))).as("violations")))
      }
    }

    // a doc-bucketed compaction merged ingest batches inside each bucket
    // file: when the merge reached past this audit's watermark, the
    // `batch > since` filter can no longer skip any merged file on
    // footer min/max alone — the audit still answers correctly but pays
    // a FULL scan of the compacted tables. Report that loudly (checked=1)
    // instead of letting the operator believe the delta priced the run;
    // `mark-audited` after compacting retires the row.
    val forcedFull = {
      val through = readLongMarker(spark, path, CompactedThroughMarker)
      if (through.exists(_ > since))
        row("delta_full_audit_forced_doc_compaction",
          spark.range(1).select(lit(1L).as("checked"), lit(0L).as("violations")))
      else emptyRow(spark, "delta_full_audit_forced_doc_compaction")
    }

    graft.operators.StoreCheck.report(
      Seq(unique, positionalCheck, layout, orphans, forcedFull))
  }

  /** Load a persisted index store back as an [[InvertedIndex]]. A
    * doc-bucketed store ([[writeIndex]] with `docBuckets`) serves its big
    * tables through the catalog so the postings ⋈ doc_stats scoring join
    * plans exchange-free; everything else is identical. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): InvertedIndex = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    withDerived(spark, path, storeTable(spark, path, "doc_stats"), storeTable(spark, path, "postings"))
  }

  private def withDerived(spark: org.apache.spark.sql.SparkSession, path: String,
                          docStats: DataFrame, postings: DataFrame): InvertedIndex =
    InvertedIndex(docStats, postings,
      vocab = spark.read.parquet(derivedTablePath(spark, path, "vocab")),
      meta = spark.read.parquet(derivedTablePath(spark, path, "meta")))

  /** The positional table of a store, routed like [[readIndex]]'s big
    * tables: a doc-bucketed positional table ([[writePositional]] with
    * `docBuckets`) reads THROUGH the catalog so the batch rollup's
    * `(query_id, doc_id)` grouping plans without an exchange; a plain
    * table is a plain parquet read. Registration failure degrades to the
    * plain read (correct, shuffled) — same contract as the frequency
    * side. */
  def readPositional(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    storeTable(spark, path, "positional")

  /** One big store table (`doc_stats`, `postings`, `positional`): through
    * the catalog when its doc-bucket marker is set, else a plain parquet
    * read — of only the given `term_bucket=` dirs when `dirs` is non-empty
    * (`basePath` keeps `term_bucket` a partition column). */
  private def storeTable(spark: org.apache.spark.sql.SparkSession, path: String,
                         table: String,
                         dirs: Seq[org.apache.hadoop.fs.Path] = Nil): DataFrame = {
    val docBuckets =
      if (table == "positional") positionalDocBucketsOf(spark, path)
      else docBucketsOf(spark, path)
    docBuckets match {
      case Some(db) =>
        bucketedStoreTable(spark, path, table, db, partitioned = table != "doc_stats")
      case None if dirs.nonEmpty =>
        spark.read.option("basePath", s"$path/$table").parquet(dirs.map(_.toString): _*)
      case None => spark.read.parquet(s"$path/$table")
    }
  }

  /** LIVE view of a store: [[readIndex]] minus tombstoned documents
    * ([[deleteDocs]]). Without a `deletes` table this IS readIndex —
    * zero extra IO; with one, doc_stats and postings gain an anti-join
    * against the tombstone set (vocab/meta were already recomputed live
    * at delete time). Term-bucket partition pruning on postings is
    * unaffected — the anti-join applies after the pruned scan. */
  def readIndexLive(spark: org.apache.spark.sql.SparkSession, path: String): InvertedIndex = {
    val ix = readIndex(spark, path)
    ix.copy(
      docStats = minusDeletes(spark, path, ix.docStats),
      postings = minusDeletes(spark, path, ix.postings))
  }

  /** The live view ([[readIndexLive]]) for ONE query: doc_stats, vocab
    * and meta open exactly as [[readIndex]] opens them, postings through
    * [[openTermBuckets]] — only the query's bucket directories are
    * listed and read. Left(live doc_stats) when none of them exists: the
    * query matches nothing. */
  def readIndexLiveFor(spark: org.apache.spark.sql.SparkSession, path: String,
                       fallback: Int)
                      (bucketsOf: Int => Seq[Long]): Either[DataFrame, InvertedIndex] = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val docStats = minusDeletes(spark, path, storeTable(spark, path, "doc_stats"))
    openTermBuckets(spark, path, "postings", fallback)(bucketsOf) match {
      case None => Left(docStats)
      case Some(po) => Right(withDerived(spark, path, docStats, minusDeletes(spark, path, po)))
    }
  }
}
