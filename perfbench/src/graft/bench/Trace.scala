package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call or phase. `parent` is 0 for a root span. Counters are
  * filled only in a traced run. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every public call the benchmark makes, kept in memory.
  *
  * Untraced, a span is two clock reads. Traced, it also attributes Spark
  * jobs and tasks (a [[SparkListener]]), parquet scans (a
  * [[QueryExecutionListener]]) and filesystem operations ([[CountingFs]]
  * plus the Hadoop storage statistics) to the span. There is one client
  * thread, so a job belongs to the innermost span whose interval contains
  * its start; jobs the library runs on its own pool threads are attributed
  * the same way. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L; var runMs = 0L; var inBytes = 0L; var inRecords = 0L
    var shuffleBytes = 0L; var outBytes = 0L
  }
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val scans = new ConcurrentLinkedQueue[(Long, Long)]() // postings rows, files

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new Job(e.jobId, e.time)
      jobs.add(j); jobById.put(e.jobId, j)
      e.stageIds.foreach(s => jobOfStage.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOfStage.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      var rows = 0L; var files = 0L
      Tracer.fileScans(qe.executedPlan).foreach { s =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        if (s.relation.location.rootPaths.exists(_.getName == "postings"))
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      scans.add((rows, files))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Time `body` as a child of the current span. `store` names a directory
    * whose new files the span is charged with (traced runs only). */
  def span[T](name: String, store: Option[String] = None)(body: => T): (T, Span) = {
    val before = if (traced) store.map(Store.listing) else None
    val fs0 = if (traced) CountingFs.snapshot() else Map.empty[String, Long]
    val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val r = try body finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
    if (traced) {
      val fs1 = CountingFs.snapshot()
      s.counts("fs_ops") = (fs1("ops") - fs0("ops")).toDouble
      s.counts("bytes_read") = (fs1("bytes_read") - fs0("bytes_read")).toDouble
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      var rows = 0L; var files = 0L
      var e = scans.poll()
      while (e != null) { rows += e._1; files += e._2; e = scans.poll() }
      s.counts("postings_rows_read") = rows.toDouble
      s.counts("files_read") = files.toDouble
      before.foreach { b =>
        val after = Store.listing(store.get)
        val fresh = after.keySet -- b.keySet
        s.counts("files_written") = fresh.size.toDouble
        s.counts("bytes_written") = fresh.iterator.map(after).sum.toDouble
      }
    }
    (r, s)
  }

  /** Attribute jobs to their innermost span and fill the job counters; call
    * once, after the last span. */
  def attribute(): Unit = if (traced) {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    val byId = spans.map(s => s.id -> s).toMap
    val owned = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Job]]
    jobs.asScala.foreach { j =>
      val inner = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (inner.nonEmpty) {
        // innermost = the containing span with the most ancestors
        def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(byId(s.parent))
        owned.getOrElseUpdate(inner.maxBy(depth).id, mutable.ArrayBuffer.empty) += j
      }
    }
    spans.foreach { s =>
      val js = owned.getOrElse(s.id, mutable.ArrayBuffer.empty[Job])
      val wallMs = math.max(1L, s.endMs - s.startMs).toDouble
      s.counts("jobs") = js.size.toDouble
      s.counts("tasks") = js.iterator.map(_.tasks).sum.toDouble
      s.counts("task_ms") = js.iterator.map(_.runMs).sum.toDouble
      s.counts("shuffle_bytes") = js.iterator.map(_.shuffleBytes).sum.toDouble
      s.counts("input_records") = js.iterator.map(_.inRecords).sum.toDouble
      s.counts("input_bytes") = js.iterator.map(_.inBytes).sum.toDouble
      s.counts("output_bytes") = js.iterator.map(_.outBytes).sum.toDouble
      s.counts("job_overlap") = js.iterator.map(j => j.endMs - j.startMs).sum / wallMs
      s.counts("driver_ms") = math.max(0.0, s.ms - Tracer.union(js.map(j => (j.startMs, j.endMs)).toSeq))
    }
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq
    s.ms - Tracer.union(kids) / 1e6
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"wall_ms":${Json.num(s.ms)},"self_ms":${Json.num(selfMs(s))},""" +
        s""""counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Runs `body` with the listeners detached: the untraced half of the
    * tracing-overhead comparison. */
  def suspended[T](body: => T): T = if (!traced) body else {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    try body finally {
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }
  }

  def close(): Unit = if (traced) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Parquet scans of an executed plan, looking through adaptive stages;
    * a reused exchange is not scanned again, so it is skipped. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** The local filesystem, counting every metadata and data operation the
  * program issues through the Hadoop `FileSystem` API. Installed as the
  * `file:` scheme in traced runs only. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  private def op(): Unit = CountingFs.ops.increment()
  override def getFileStatus(f: Path): FileStatus = { op(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { op(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { op(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    op(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { op(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { op(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { op(); super.delete(f, recursive) }
}

object CountingFs {
  val ops = new LongAdder

  /** Operation count plus the Hadoop storage statistics' bytes read for
    * the `file` scheme. */
  def snapshot(): Map[String, Long] = {
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .filter(_.getScheme == "file").toSeq
    def stat(k: String): Long = stats.flatMap(s => Option(s.getLong(k))).map(_.longValue).sum
    Map("ops" -> ops.sum(), "bytes_read" -> stat("bytesRead"))
  }
}

/** Listing of a store directory: data files (no checksums, no markers
  * starting with `_` or `.`) and their sizes. */
object Store {
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val w = java.nio.file.Files.walk(root)
    try w.iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
