package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.analyzer.Analyzer
import graft.index.Indexer
import graft.search.BM25

/** The search-engine benchmark: one closed-loop client thread drives the
  * library's public store verbs and search faces on a seeded Zipf corpus,
  * checks every answer against [[Oracle]], and prints the metrics as one
  * JSON line.
  *
  * {{{
  *   Main --workload search|churn --seed N --seconds S --trace 0|1
  *        [--size bench|tiny] [--work DIR]
  *   Main --check-fixture --seed N [--size bench|tiny]
  * }}} */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        sizes: Sizes, work: Path, checkFixture: Boolean)

  val Workloads = Seq("search", "churn")
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.checkFixture) sys.exit(if (checkFixture(a.seed, a.sizes)) 0 else 1)
    val spark = session(a)
    val ok = try new Run(spark, a).run() finally spark.stop()
    System.err.println("perfbench: stopped")
    sys.exit(if (ok) 0 else 1)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val check = argv.contains("--check-fixture")
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = if (check) "" else need("workload")
    require(check || Workloads.contains(workload), s"unknown workload '$workload'")
    Args(workload,
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      sizes = Sizes.byName(m.getOrElse("size", "bench")),
      work = Paths.get(m.getOrElse("work", "perfbench-work")).toAbsolutePath,
      checkFixture = check)
  }

  private def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Generates the fixture twice from the seed and once from the next seed:
    * the first two must be byte-identical, the third must differ. */
  def checkFixture(seed: Long, sizes: Sizes): Boolean = {
    val a = new Fixture(seed, sizes).digest
    val b = new Fixture(seed, sizes).digest
    val c = new Fixture(seed + 1, sizes).digest
    println(s"fixture seed=$seed sha256=$a repeat=$b next_seed=$c")
    val ok = a == b && a != c
    println(if (ok) "fixture check: PASS" else "fixture check: FAIL")
    ok
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** One benchmark run. */
final class Run(spark: SparkSession, a: Main.Args) {
  import Main._
  import spark.implicits._

  private val sizes = a.sizes
  private val fx = new Fixture(a.seed, sizes)
  private val tracer = new Tracer(spark, a.trace)
  private val work = a.work.resolve("data")

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
  }

  // every timed call, by metric family
  private val singleMs = mutable.ArrayBuffer.empty[Double]
  private val batchQps = mutable.ArrayBuffer.empty[Double]
  private val buildSecs = mutable.ArrayBuffer.empty[Double]
  private val setupSecs = mutable.ArrayBuffer.empty[Double]
  private val appendSecs = mutable.ArrayBuffer.empty[Double]
  private val deleteSecs = mutable.ArrayBuffer.empty[Double]
  private val fsckSecs = mutable.ArrayBuffer.empty[Double]

  private sealed trait Mutation
  private final case class Append(k: Int) extends Mutation
  private final case class Delete(ids: IndexedSeq[Long]) extends Mutation

  /** A store and the mutations applied to it since its build. */
  private final class Tracked(val path: String) {
    var history = Vector.empty[Mutation]
    val live = mutable.TreeSet.from(fx.baseDocs.map(_.id))
  }

  // answers kept for the oracle check after timing, in the order made
  private sealed trait Check { def history: Vector[Mutation] }
  private final case class Single(history: Vector[Mutation], text: String,
                                  hits: IndexedSeq[Hit], span: Span) extends Check
  private final case class Batch(history: Vector[Mutation], log: IndexedSeq[Query],
                                 byQuery: Map[Long, IndexedSeq[Hit]]) extends Check
  private final case class Audit(history: Vector[Mutation], store: String,
                                 report: Seq[Row]) extends Check
  private val checks = mutable.ArrayBuffer.empty[Check]

  private var nextQuery = 0
  private var nextLog = 0
  private var mainStore = ""

  def run(): Boolean = {
    deleteTree(work)
    Files.createDirectories(work)
    val began = System.nanoTime()
    def progress(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - began) / 1e9}%.1f s")
    val calib = calibrate()
    progress("calibrated")
    println(s"calibration cpu_ms=${Json.num(calib._1)} spark_ms=${Json.num(calib._2)}")
    val shape = Oracle.of(fx.baseDocs)
    val corpusBytes = bytesOf(fx.baseDocs)
    println(s"fixture seed=${a.seed} size=${sizes.name} docs=${shape.totalDocs} " +
      s"vocabulary=${shape.vocabSize} postings=${shape.postingsCount} corpus_bytes=$corpusBytes " +
      s"sha256=${fx.digest}")
    val corpus = work.resolve("corpus").toString
    docsDF(fx.baseDocs).write.parquet(corpus)

    // a set-up is a store build plus its first query, so work a change moves
    // from the measured calls into either shows in setup_s
    val stores = (0 until SetupReps).map { r =>
      val store = new Tracked(work.resolve(s"store-$r").toString)
      val (_, s) = tracer.span("setup") {
        build(corpus, store.path)
        BM25.searchStore(spark, store.path, fx.query(WarmUpIndex).text).collect()
      }
      setupSecs += s.seconds
      store
    }
    // the process's first query log pays class loading and code generation
    BM25.searchManyStore(spark, stores.head.path, logFrame(fx.log(WarmUpIndex))).collect()
    progress("set up")
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val storeBytesRatio = a.workload match {
      case "search" => searchWorkload(stores, corpusBytes, t0, deadline)
      case "churn"  => churnWorkload(stores.head, corpusBytes, deadline)
    }
    progress("workload done")
    tracer.attribute()
    val correct = verify()
    progress("verified")
    val e2e = Seq(
      ("setup_s", median(setupSecs.toSeq), "s"),
      ("search_p50_ms", percentile(singleMs.toSeq, 0.5), "ms"),
      ("search_p90_ms", percentile(singleMs.toSeq, 0.9), "ms"),
      ("batch_qps", median(batchQps.toSeq), "queries/s"),
      ("build_docs_per_s", sizes.baseDocs / median(buildSecs.toSeq), "docs/s"),
      ("append_p50_s", median(appendSecs.toSeq), "s"),
      ("delete_p50_s", median(deleteSecs.toSeq), "s"),
      ("fsck_s", median(fsckSecs.toSeq), "s"),
      ("store_bytes_per_input_byte", storeBytesRatio, "ratio"))
    def calls(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(s"calls single_ms=${calls(singleMs)} batch_qps=${calls(batchQps)} " +
      s"setup_s=${calls(setupSecs)} build_s=${calls(buildSecs)} append_s=${calls(appendSecs)} " +
      s"delete_s=${calls(deleteSecs)} fsck_s=${calls(fsckSecs)}")
    e2e.foreach { case (n, v, u) => println(s"metric $n ${Json.num(v)} $u") }
    val metrics =
      if (!a.trace) e2e
      else {
        val layers = perLayer(calib)
        layers.foreach { case (n, v, u) => println(s"layer $n ${Json.num(v)} $u") }
        val trace = a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
        tracer.writeJsonl(trace)
        println(s"spans written to $trace")
        layers
      }
    tracer.close()
    problems.foreach(p => println(s"FAILED $p"))
    deleteTree(work)
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    true
  }

  // ---- workloads -----------------------------------------------------------
  //
  // Every workload reports every end-to-end metric, so each also makes the
  // calls outside its focus, a fixed number of times after its timed loop.

  /** Read path: single top-10 queries, then fixed-size query logs, against a
    * store built during set-up; the write verbs are idle meanwhile and run
    * once each afterwards on the spare set-up store. */
  private def searchWorkload(stores: IndexedSeq[Tracked], corpusBytes: Long, t0: Long,
                             deadline: Long): Double = {
    val split = t0 + ((deadline - t0) * SingleShare).toLong
    while (System.nanoTime() < split || singleMs.size < 3) single(stores.head)
    while (System.nanoTime() < deadline || batchQps.size < 2) batch(stores.head)
    val spare = stores(1)
    mutate(spare, Append(0))
    mutate(spare, Delete(fx.deleteBatch(0, spare.live.toIndexedSeq)))
    fsck(spare)
    storeRatio(stores.head.path, corpusBytes)
  }
  private val SingleShare = 0.7

  /** Writes beside reads: appends and deletes alternate on one store, each
    * followed by a burst of single queries against the store as it grows;
    * two query logs and the audit run on the final store. */
  private def churnWorkload(store: Tracked, corpusBytes: Long, deadline: Long): Double = {
    var step = 0
    var ratio = 0.0
    while (step < ChurnSteps || System.nanoTime() < deadline) {
      if (step % 2 == 0) mutate(store, Append(step / 2))
      else mutate(store, Delete(fx.deleteBatch(step / 2, store.live.toIndexedSeq)))
      // bytes per input byte after the first append and delete, a state
      // every run reaches whatever the speed
      if (step == 1) ratio = storeRatio(store.path, corpusBytes + bytesOf(fx.appendBatch(0)))
      (0 until ChurnBurst).foreach(_ => single(store))
      step += 1
    }
    (0 until ChurnLogs).foreach(_ => batch(store))
    fsck(store)
    ratio
  }
  private val ChurnSteps = 2
  private val ChurnBurst = 4
  private val ChurnLogs = 2

  // ---- timed calls -----------------------------------------------------------

  private def docsDF(docs: Seq[Doc]): DataFrame = docs.toDF("doc_id", "title", "text")
  private def logFrame(log: Seq[Query]): DataFrame =
    log.map(q => (q.id, q.text)).toDF("query_id", "query_text")
  private def bytesOf(docs: Seq[Doc]): Long =
    docs.iterator.map(d => d.title.length + d.text.length).sum.toLong

  private def build(corpus: String, store: String): Unit = {
    attempted += 1
    mainStore = store
    val (ok, s) = tracer.span("index.build", Some(store)) {
      attempt("writeIndex") {
        Indexer.writeIndex(Indexer.buildIndex(spark.read.parquet(corpus),
          titleCol = Some("title")), store)
      }
    }
    if (ok.isDefined) buildSecs += s.seconds
  }

  private def mutate(store: Tracked, m: Mutation): Unit = {
    attempted += 1
    mainStore = store.path
    val (ok, s) = m match {
      case Append(k) =>
        val frame = docsDF(fx.appendBatch(k))
        tracer.span("index.append", Some(store.path)) {
          attempt("appendIndex")(Indexer.appendIndex(spark, store.path, frame, titleCol = Some("title")))
        }
      case Delete(ids) =>
        val frame = ids.toDF("doc_id")
        tracer.span("index.delete", Some(store.path)) {
          attempt("deleteDocs")(Indexer.deleteDocs(spark, store.path, frame))
        }
    }
    if (ok.isDefined) (if (m.isInstanceOf[Append]) appendSecs else deleteSecs) += s.seconds
    m match {
      case Append(k) => store.live ++= fx.appendBatch(k).map(_.id)
      case Delete(ids) => store.live --= ids
    }
    store.history :+= m
  }

  private def fsck(store: Tracked): Unit = {
    attempted += 1
    val (rows, s) = tracer.span("index.fsck") {
      attempt("checkStoreIncremental")(Indexer.checkStoreIncremental(spark, store.path).collect().toSeq)
    }
    rows.foreach { r =>
      fsckSecs += s.seconds
      checks += Audit(store.history, store.path, r)
    }
  }

  private def single(store: Tracked): Unit = {
    val q = fx.query(nextQuery)
    nextQuery += 1
    if (a.trace) layerProbes(store.path, q.text)
    attempted += 1
    // traced runs alternate untraced queries for the overhead comparison
    val (hits, s) =
      if (a.trace && nextQuery % 2 == 0)
        tracer.suspended(tracer.span("search.single.untraced")(runSingle(store.path, q.text)))
      else tracer.span("search.single")(runSingle(store.path, q.text))
    hits.foreach { h =>
      singleMs += s.ms
      checks += Single(store.history, q.text, h, s)
    }
  }

  private def runSingle(store: String, text: String): Option[IndexedSeq[Hit]] =
    attempt("searchStore") {
      BM25.searchStore(spark, store, text).collect().toIndexedSeq
        .map(r => Hit(r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    }

  /** Traced runs only: the store-open and analyzer layers of a single query,
    * timed separately with the same arguments searchStore uses. */
  private def layerProbes(store: String, text: String): Unit = {
    tracer.span("index.open") {
      Indexer.readIndexLive(spark, store)
      Indexer.pruningBuckets(spark, store, "postings", Indexer.storedBuckets(spark, store), 64)
    }
    val (_, s) = tracer.span("analyzer.analyzeQuery") {
      (0 until AnalyzerReps).foreach(_ => Analyzer.analyzeQuery(text))
    }
    s.counts("us_per_call") = s.ms * 1000 / AnalyzerReps
  }
  private val AnalyzerReps = 100

  private def batch(store: Tracked): Unit = {
    val log = fx.log(nextLog)
    nextLog += 1
    attempted += 1
    val frame = logFrame(log)
    val (rows, s) = tracer.span("search.batch") {
      attempt("searchManyStore")(BM25.searchManyStore(spark, store.path, frame).collect().toIndexedSeq)
    }
    rows.foreach { rs =>
      batchQps += log.size / s.seconds
      val byQuery = rs.groupBy(_.getLong(0)).map { case (qid, hs) =>
        qid -> hs.map(r => Hit(r.getInt(1), r.getLong(2), r.getString(3), r.getDouble(4))).sortBy(_.rank)
      }
      checks += Batch(store.history, log, byQuery)
    }
  }

  private def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Exception => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }

  // ---- oracle check ------------------------------------------------------------

  private var oracle: Oracle = _
  private var oracleHistory = Vector.empty[Mutation]

  /** The oracle after a mutation history; extends the current one when the
    * history continues it (churn), else rebuilds from the base corpus. */
  private def oracleAt(h: Vector[Mutation]): Oracle = {
    if (oracle == null || !h.startsWith(oracleHistory)) {
      oracle = Oracle.of(fx.baseDocs)
      oracleHistory = Vector.empty
    }
    h.drop(oracleHistory.size).foreach {
      case Append(k) => fx.appendBatch(k).foreach(oracle.add)
      case Delete(ids) => ids.foreach(oracle.remove)
    }
    oracleHistory = h
    oracle
  }

  private def verify(): Boolean = {
    val sampler = new java.util.SplittableRandom(Fixture.mix(a.seed ^ 0x5eedL))
    checks.foreach { c =>
      val o = oracleAt(c.history)
      c match {
        case Single(_, q, hits, span) =>
          span.counts("oracle_postings") = o.postingsOf(q).toDouble
          o.check(q, hits).foreach(e => fail(s"single '$q': $e"))
        case Batch(_, log, byQuery) =>
          (0 until BatchSample).map(_ => log(sampler.nextInt(log.size))).distinct.foreach { q =>
            o.check(q.text, byQuery.getOrElse(q.id, IndexedSeq.empty))
              .foreach(e => fail(s"batch query '${q.text}': $e"))
          }
        case Audit(_, store, report) => audit(store, o, report)
      }
    }
    val valid = singleMs.nonEmpty && batchQps.nonEmpty && buildSecs.nonEmpty &&
      appendSecs.nonEmpty && deleteSecs.nonEmpty && fsckSecs.nonEmpty
    if (!valid) problems += "a metric family has no successful sample"
    failed == 0 && valid
  }
  private val BatchSample = 8

  /** fsck must be green and the stored vocab and meta must equal the
    * oracle's df, N and avg_dl; a disagreement fails the audit. */
  private def audit(store: String, o: Oracle, report: Seq[Row]): Unit = {
    val red = report.filter(_.getAs[Number]("violations").longValue != 0L)
    if (report.isEmpty) fail(s"fsck of $store produced no report")
    else if (red.nonEmpty) fail(s"fsck of $store red: ${red.mkString(", ")}")
    val ix = Indexer.readIndexLive(spark, store)
    val meta = ix.meta.collect()
    if (meta.length != 1) fail(s"meta of $store has ${meta.length} rows")
    else {
      val n = meta(0).getAs[Number]("total_docs").longValue
      val avg = meta(0).getAs[Double]("avg_dl")
      if (n != o.totalDocs || math.abs(avg - o.avgDl) > 1e-9 * o.avgDl)
        fail(s"meta of $store is ($n, $avg), expected (${o.totalDocs}, ${o.avgDl})")
    }
    val vocab = ix.vocab.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Number]("df").longValue).toMap
    val want = o.vocab
    if (vocab != want) {
      val t = (vocab.keySet ++ want.keySet).find(t => vocab.get(t) != want.get(t)).getOrElse("?")
      fail(s"vocab of $store differs from the oracle at '$t': ${vocab.get(t)} vs ${want.get(t)}")
    }
  }

  // ---- measurements outside the library ------------------------------------------

  private def storeRatio(store: String, inputBytes: Long): Double =
    Store.listing(store).values.sum.toDouble / inputBytes

  /** Fixed work independent of the library: a CPU-bound sort and a small
    * Spark job, median of three each, so box drift can be told from a code
    * change. */
  private def calibrate(): (Double, Double) = {
    def timeMs(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    val cpu = (0 until 3).map { _ =>
      timeMs {
        val r = new java.util.SplittableRandom(42)
        val xs = Array.fill(1 << 19)(r.nextLong())
        java.util.Arrays.sort(xs)
        require(xs(0) <= xs(xs.length - 1))
      }
    }
    val sp = (0 until 3).map { _ =>
      timeMs { spark.range(0, 1000000, 1, 4).selectExpr("sum(id * 7 % 13)").collect() }
    }
    (median(cpu), median(sp))
  }

  // query and log number used before timing, far past any a run reaches
  private val WarmUpIndex = 1 << 20

  // ---- per-layer metrics -----------------------------------------------------------

  private def perLayer(calib: (Double, Double)): Seq[(String, Double, String)] = {
    def named(n: String) = tracer.spans.filter(_.name == n).toSeq
    def med(n: String, f: Span => Double): Double = {
      val xs = named(n).map(f)
      if (xs.isEmpty) Double.NaN else median(xs)
    }
    def c(k: String)(s: Span): Double = s.counts.getOrElse(k, Double.NaN)
    val singles = named("search.single")
    val pruneBase = singles.map(c("oracle_postings")).sum
    val pruneRead = singles.map(c("postings_rows_read")).sum
    val untraced = named("search.single.untraced").map(_.ms)
    val overhead =
      if (untraced.isEmpty || singles.isEmpty) Double.NaN
      else 100.0 * (median(singles.map(_.ms)) / median(untraced) - 1.0)
    val storeFiles = Store.listing(mainStore)
    Seq(
      ("analyzer.analyzeQuery.us", med("analyzer.analyzeQuery", c("us_per_call")), "us"),
      ("index.open.ms", med("index.open", _.ms), "ms"),
      ("index.open.fs_ops", med("index.open", c("fs_ops")), "count"),
      ("search.single.jobs", med("search.single", c("jobs")), "count"),
      ("search.single.tasks", med("search.single", c("tasks")), "count"),
      ("search.single.driver_ms", med("search.single", c("driver_ms")), "ms"),
      ("search.single.task_ms", med("search.single", c("task_ms")), "ms"),
      ("search.single.postings_rows_read", med("search.single", c("postings_rows_read")), "count"),
      ("search.single.files_read", med("search.single", c("files_read")), "count"),
      ("search.single.prune_ratio", pruneRead / pruneBase, "ratio"),
      ("search.batch.jobs", med("search.batch", c("jobs")), "count"),
      ("search.batch.driver_ms", med("search.batch", c("driver_ms")), "ms"),
      ("search.batch.task_ms", med("search.batch", c("task_ms")), "ms"),
      ("search.batch.shuffle_bytes", med("search.batch", c("shuffle_bytes")), "bytes"),
      ("search.batch.postings_rows_read", med("search.batch", c("postings_rows_read")), "count"),
      ("index.build.jobs", med("index.build", c("jobs")), "count"),
      ("index.build.driver_ms", med("index.build", c("driver_ms")), "ms"),
      ("index.build.task_ms", med("index.build", c("task_ms")), "ms"),
      ("index.build.job_overlap", med("index.build", c("job_overlap")), "ratio"),
      ("index.build.shuffle_bytes", med("index.build", c("shuffle_bytes")), "bytes"),
      ("index.build.files_written", med("index.build", c("files_written")), "count"),
      ("index.build.bytes_written", med("index.build", c("bytes_written")), "bytes"),
      ("index.append.jobs", med("index.append", c("jobs")), "count"),
      ("index.append.driver_ms", med("index.append", c("driver_ms")), "ms"),
      ("index.append.task_ms", med("index.append", c("task_ms")), "ms"),
      ("index.append.job_overlap", med("index.append", c("job_overlap")), "ratio"),
      ("index.append.shuffle_bytes", med("index.append", c("shuffle_bytes")), "bytes"),
      ("index.append.files_written", med("index.append", c("files_written")), "count"),
      ("index.append.fs_ops", med("index.append", c("fs_ops")), "count"),
      ("index.delete.jobs", med("index.delete", c("jobs")), "count"),
      ("index.delete.driver_ms", med("index.delete", c("driver_ms")), "ms"),
      ("index.delete.task_ms", med("index.delete", c("task_ms")), "ms"),
      ("index.delete.bytes_written", med("index.delete", c("bytes_written")), "bytes"),
      ("index.fsck.jobs", med("index.fsck", c("jobs")), "count"),
      ("index.fsck.driver_ms", med("index.fsck", c("driver_ms")), "ms"),
      ("index.fsck.task_ms", med("index.fsck", c("task_ms")), "ms"),
      ("index.fsck.bytes_read", med("index.fsck", c("bytes_read")), "bytes"),
      ("store.files", storeFiles.size.toDouble, "count"),
      ("store.bytes", storeFiles.values.sum.toDouble, "bytes"),
      ("trace.overhead_pct", overhead, "%"),
      ("calib.cpu_ms", calib._1, "ms"),
      ("calib.spark_ms", calib._2, "ms"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally w.close()
  }
}
