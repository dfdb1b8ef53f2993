package graft

import java.nio.file.Files

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.index.Indexer
import graft.search.BM25

/** The search faces' store-open ([[Indexer.openTermBuckets]]): a query
  * lists and reads only its own `term_bucket=` directories of a
  * 64-bucket plain store, and every call lists afresh. */
class SearchStoreOpenSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `n` documents from ids `from..`, each 12 words of `w<k>` with k
    * < `vocab`, a deterministic function of the doc id. */
  private def corpus(from: Long, n: Int, vocab: Int, extra: String = ""): DataFrame =
    (from until from + n).map { id =>
      val words = (0 until 12).map(j => s"w${(id * 31 + j * j * 7 + j) % vocab}")
      (id, s"doc $id", (words :+ extra).mkString(" ").trim)
    }.toDF("doc_id", "title", "text")

  private def bucketDirs(path: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/postings")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.startsWith("term_bucket="))
      .map(_.stripPrefix("term_bucket=").toLong).toSet
  }

  private def hits(df: DataFrame): Seq[(Int, Long, Double)] =
    df.select("rank", "doc_id", "score").as[(Int, Long, Double)].collect().toSeq

  private def assertSameTop(got: Seq[(Int, Long, Double)],
                            want: Seq[(Int, Long, Double)]): Unit = {
    assert(got.map(h => (h._1, h._2)) === want.map(h => (h._1, h._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }

  private lazy val fullStore: String = {
    val path = Files.createTempDirectory("storeopen").toString
    Indexer.writeIndex(Indexer.buildIndex(corpus(0L, 300, 2000), titleCol = Some("title")),
      path, nBuckets = 64)
    assert(bucketDirs(path).size === 64, "fixture must populate every bucket")
    path
  }

  test("searchStore on a 64-bucket store runs no whole-table listing job") {
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        maxTasks.accumulateAndGet(e.stageInfo.numTasks, math.max)
    }
    val store = fullStore // built (64-task write stages) before listening
    val sc = spark.sparkContext
    ListenerAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(BM25.searchStore(spark, store, "w1 w17 w400").collect().nonEmpty)
      ListenerAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(maxTasks.get < 64,
      s"a stage of ${maxTasks.get} tasks ran inside searchStore — the store-open " +
        "must not list all 64 bucket directories")
  }

  test("the postings scan's roots are exactly the query's bucket directories") {
    val terms = Seq("w1", "w17", "w400")
    val df = BM25.searchStore(spark, fullStore, terms.mkString(" "))
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .filter(_.relation.location.rootPaths.exists(_.getParent.getName == "postings"))
    val roots = scans.flatMap(_.relation.location.rootPaths)
    val want = terms.map(t => s"term_bucket=${Indexer.termBucketOf(t, 64)}").toSet
    assert(roots.map(_.getName).toSet === want)
    assert(roots.size === want.size)
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "the term_bucket IN-list must stay on the scan as a partition filter")
  }

  test("a query whose buckets have no directory answers empty, schema-correct") {
    val path = Files.createTempDirectory("storeopensparse").toString
    val docs = corpus(0L, 20, 10)
    Indexer.writeIndex(Indexer.buildIndex(docs, titleCol = Some("title")), path, nBuckets = 64)
    val present = bucketDirs(path)
    val absent = Iterator.from(0).map(i => s"zq$i")
      .filter(t => !present.contains(Indexer.termBucketOf(t, 64))).take(2).toSeq
    val q = absent.mkString(" ")
    val got = BM25.searchStore(spark, path, q)
    val want = BM25.search(Indexer.buildIndex(docs, titleCol = Some("title")), q)
    assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
    assert(got.collect().isEmpty)
    val many = BM25.searchManyStore(spark, path, Seq(1L -> q).toDF("query_id", "query_text"))
    assert(many.columns.toSeq === Seq("query_id", "rank", "doc_id", "title", "score"))
    assert(many.collect().isEmpty)
    Indexer.writePositional(docs, path, nBuckets = 64)
    val phrase = graft.search.PhraseSearch.searchStore(spark, path, q)
    assert(phrase.columns.toSeq === Seq("rank", "doc_id", "phrase_tf"))
    assert(phrase.collect().isEmpty)
  }

  test("append into new and existing bucket dirs, then delete: top-10 equals a rebuild's") {
    val path = Files.createTempDirectory("storeopenchurn").toString
    val base = corpus(0L, 40, 30)
    Indexer.writeIndex(Indexer.buildIndex(base, titleCol = Some("title")), path, nBuckets = 64)
    val before = bucketDirs(path)
    val fresh = Iterator.from(0).map(i => s"nw$i")
      .find(t => !before.contains(Indexer.termBucketOf(t, 64))).get
    val q = s"w3 w11 $fresh"
    // warm the store-open once: a reused listing would miss what follows
    assert(hits(BM25.searchStore(spark, path, q)).nonEmpty)
    val added = corpus(1000L, 15, 30, extra = fresh)
    Indexer.appendIndex(spark, path, added, titleCol = Some("title"))
    assert(bucketDirs(path) === before + Indexer.termBucketOf(fresh, 64))
    val dead = hits(BM25.searchStore(spark, path, q)).take(3).map(_._2)
    Indexer.deleteDocs(spark, path, dead.toDF("doc_id"))
    val live = base.union(added).filter(!$"doc_id".isin(dead: _*))
    val want = hits(BM25.search(Indexer.buildIndex(live, titleCol = Some("title")), q))
    val got = hits(BM25.searchStore(spark, path, q))
    assert(got.exists(_._2 >= 1000L), "appended docs must be visible")
    assert(!got.exists(h => dead.contains(h._2)), "deleted docs must vanish")
    assertSameTop(got, want)
  }
}
