package graft.syncbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts and times the metadata operations of the local (`file:`)
  * FileSystem. Local Hadoop statistics count bytes and read/write ops
  * only, not list, rename or delete, so the traced session installs this
  * subclass as `fs.file.impl`. Data bytes written through `create` are
  * counted; the `.crc` side files the checksum layer writes are not. */
final class CountingFs extends LocalFileSystem {
  import Trace.{Fs => F}

  private def meta[T](op: LongAdder)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { op.increment(); F.metaNs.add(System.nanoTime() - t0) }
  }

  override def listStatus(p: Path): Array[FileStatus] =
    meta(F.list)(super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    meta(F.list)(super.listLocatedStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    meta(F.list)(super.listStatusIterator(p))
  override def getFileStatus(p: Path): FileStatus =
    meta(F.status)(super.getFileStatus(p))
  override def rename(src: Path, dst: Path): Boolean =
    meta(F.rename)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    meta(F.delete)(super.delete(p, recursive))
  override def mkdirs(p: Path): Boolean = meta(F.mkdirs)(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    meta(F.mkdirs)(super.mkdirs(p, perm))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    meta(F.open)(super.open(p, bufferSize))

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        F.bytesWritten.add(getPos)
        super.close()
      }
    }

  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(meta(F.create)(super.create(p, perm, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def createNonRecursive(p: Path, perm: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(meta(F.create)(super.createNonRecursive(p, perm, overwrite,
      bufferSize, replication, blockSize, progress)))
}

/** In-memory trace store of a traced run: FS op counters, one record per
  * Spark job and task, and Catalyst planning time per query execution.
  * Nothing is written until the run ends; timed runs install none of it. */
object Trace {
  object Fs {
    val list, status, rename, delete, mkdirs, create, open, metaNs,
      bytesWritten = new LongAdder
    val ops: Seq[(String, LongAdder)] = Seq("list" -> list,
      "status" -> status, "rename" -> rename, "delete" -> delete,
      "mkdirs" -> mkdirs, "create" -> create, "open" -> open)
  }

  final case class FsSnap(counts: Map[String, Long], metaNs: Long,
      bytes: Long) {
    def -(o: FsSnap): FsSnap = FsSnap(
      counts.map { case (k, v) => k -> (v - o.counts(k)) },
      metaNs - o.metaNs, bytes - o.bytes)
  }

  def fsSnap(): FsSnap = FsSnap(Fs.ops.map { case (k, a) => k -> a.sum }
    .toMap, Fs.metaNs.sum, Fs.bytesWritten.sum)

  /** One Spark job: the module its call site names, wall interval (epoch
    * ms), and the totals of its tasks once they have all ended. */
  final class JobRec(val id: Int, val siteModule: String,
      val startMs: Long, val execution: Option[String]) {
    /** Set by [[Recorder.jobsIn]]: the call-site module, or for a job of
      * a SQL execution (run on Spark's own threads) the module of the
      * execution's call site. */
    @volatile var module: String = siteModule
    @volatile var endMs: Long = -1L
    val tasks, shuffleBytes, spillBytes = new LongAdder
  }

  final case class PlanRec(atMs: Long, func: String, planMs: Long)

  /** Module of the first engine frame (`graft.<module>.…`) in a stage's
    * call site, the way [[graft.JobProfile]] reads stage names. Frames of
    * the top-level `graft` package (the query registry's entry points)
    * count as `queries`; a call site with only the benchmark's own
    * frames is `gen`, and one with no `graft` frame at all is `other`. */
  def moduleOf(callSite: String): String = {
    val frames = callSite.split('\n').iterator
      .map(_.trim.stripPrefix("at ").trim).filter(_.startsWith("graft."))
      .toSeq
    frames.find(!_.startsWith("graft.syncbench.")) match {
      case Some(f) =>
        val parts = f.takeWhile(_ != '(').split('.')
        if (parts.length >= 4) parts(1) else "queries"
      case None => if (frames.nonEmpty) "gen" else "other"
    }
  }

  /** The listener half of the trace; add it with [[install]]. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val plans = new ConcurrentLinkedQueue[PlanRec]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = js.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
      val exec = Option(js.properties).flatMap(p => Option(
        p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      val rec = new JobRec(js.jobId, moduleOf(site), js.time,
        exec)
      jobs.put(js.jobId, rec)
      js.stageIds.foreach(stageJob.put(_, rec))
    }
    /** SQL executions run their jobs on Spark's own threads, whose call
      * sites hold no engine frame; the execution's start event carries
      * the caller's call site instead. */
    private val execModule =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execModule.put(s.executionId.toString, moduleOf(s.details)): Unit
      case _ => ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(te.stageId)).foreach { j =>
        j.tasks.increment()
        Option(te.taskMetrics).foreach { m =>
          j.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          j.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      plans.add(PlanRec(System.currentTimeMillis(), func, ms))
    }
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = ()

    def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = {
      jobs.values.asScala.toSeq
        .filter(j => j.startMs >= fromMs && j.startMs <= toMs)
        .sortBy(_.id).map { j =>
          if (j.siteModule == "other")
            j.module = j.execution.flatMap(x => Option(execModule.get(x)))
              .getOrElse("other")
          j
        }
    }
    def plansIn(fromMs: Long, toMs: Long): Seq[PlanRec] =
      plans.asScala.filter(p => p.atMs >= fromMs && p.atMs <= toMs).toSeq
  }

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  /** Spark and FS activity of one traced region. */
  final case class Region(wallS: Double, jobs: Seq[JobRec], fs: FsSnap,
      plans: Seq[PlanRec], fromMs: Long, toMs: Long) {
    def jobsOf(module: String): Seq[JobRec] = jobs.filter(_.module == module)
    def jobS(js: Seq[JobRec]): Double =
      js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    /** Wall time covered by at least one job, in seconds. */
    def busyS: Double = covered(jobs.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))) / 1e3
    def driverGapS: Double = math.max(0.0, wallS - busyS)
    def tasks: Long = jobs.map(_.tasks.sum).sum
    def shuffleBytes: Long = jobs.map(_.shuffleBytes.sum).sum
    def spillBytes: Long = jobs.map(_.spillBytes.sum).sum
    def planMs: Long = plans.map(_.planMs).sum
    def modules: Map[String, Int] =
      jobs.groupBy(_.module).map { case (m, js) => m -> js.size }
  }

  /** Total length covered by at least one of the intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var (total, s0, e0) = (0L, Long.MinValue, Long.MinValue)
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > e0) { if (e0 > s0) total += e0 - s0; s0 = s; e0 = e }
      else e0 = math.max(e0, e)
    }
    if (e0 > s0) total += e0 - s0
    total
  }

  /** Runs `body` as one region. With no recorder (an untraced run) only
    * the wall time is measured. */
  def region[T](rec: Option[Recorder], spark: SparkSession)(body: => T)
      : (T, Region) = {
    val fs0 = fsSnap()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    rec match {
      case Some(r) =>
        org.apache.spark.syncbench.BusDrain(spark.sparkContext)
        (out, Region(wall, r.jobsIn(fromMs, toMs), fsSnap() - fs0,
          r.plansIn(fromMs, toMs), fromMs, toMs))
      case None =>
        (out, Region(wall, Nil, fsSnap() - fs0, Nil, fromMs, toMs))
    }
  }
}
