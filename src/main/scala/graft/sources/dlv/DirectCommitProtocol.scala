package graft.sources.dlv

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.graft.GraftInternal

/** The commit protocol of every dlv data write: each task writes its
  * files ONCE, at their final paths under `root` (a qualified
  * directory), and its commit returns them as [[AddFile]]s — path
  * relative to `root`, size and mtime from the file status, stats read
  * from the footer the task just closed (the same
  * [[ParquetStats.statsJson]] a driver-side read would produce). There
  * is no staging directory, no rename and no `_SUCCESS` marker: a file
  * becomes visible only through the log commit that names it, since
  * every read plans from the log. A failed task deletes its own files;
  * a failed job deletes the files of the tasks that had committed; a
  * file a crash still leaves behind is an unreferenced orphan that
  * VACUUM reclaims.
  *
  * The task commit also sets the task's output metrics (bytes and
  * records written) from those sizes and footers, so the write job runs
  * no stats tracker, whose own copy of the job's Hadoop conf every task
  * would deserialize a second time.
  *
  * Names are `part-<task>-<uuid><suffix>` with a fresh UUID per file,
  * so a retried or speculative attempt never collides with another. */
private[dlv] final class DirectCommitProtocol(
    root: String, indexed: Option[Set[String]], dataChange: Boolean)
    extends FileCommitProtocol with Serializable {

  // task side: (root-relative path, full path) of each file opened by
  // this attempt — reset per attempt in setupTask
  @transient private var opened: ArrayBuffer[(String, String)] = _
  // driver side: the files of every task committed so far (abortJob's
  // cleanup list) and the job's result
  @transient private val taskCommits =
    new ConcurrentLinkedQueue[TaskCommitMessage]()
  @transient @volatile private var adds: Seq[AddFile] = Nil

  /** The job's files, sorted by path; empty before `commitJob`. */
  def committed: Seq[AddFile] = adds

  override def setupJob(job: JobContext): Unit = ()

  override def setupTask(ctx: TaskAttemptContext): Unit =
    opened = ArrayBuffer.empty

  override def newTaskTempFile(ctx: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val task = ctx.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$task%05d-" +
      s"${java.util.UUID.randomUUID()}${spec.suffix}"
    val full = dir.fold(new Path(root, name))(d =>
      new Path(new Path(root, d), name)).toString
    opened += (dir.fold(name)(d => s"$d/$name") -> full)
    full
  }

  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext,
      absoluteDir: String, spec: FileNameSpec): String =
    throw new UnsupportedOperationException(
      "dlv writes have no custom partition locations")

  /** Runs after the task closed its writers. A task that wrote several
    * files (one per partition it touched) reads their footers
    * concurrently. It also sets the task's output metrics from what it
    * read: bytes are the files' sizes and records their footers' row
    * counts. */
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    val files = DriverPar.map(opened.toSeq) { case (rel, full) =>
      val p = new Path(full)
      val st = p.getFileSystem(conf).getFileStatus(p)
      val (rows, stats) = ParquetStats.footerStats(conf, p, indexed)
      rows -> AddFile(
        path = rel,
        partitionValues = DlvDml.hivePartValues(rel),
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = dataChange,
        stats = Some(stats))
    }
    GraftInternal.setTaskOutputMetrics(
      files.map(_._2.size).sum, files.map(_._1).sum)
    new TaskCommitMessage(files.map(_._2))
  }

  // best-effort: a file a delete misses stays unreferenced, and
  // VACUUM reclaims it
  private def deleteQuietly(conf: org.apache.hadoop.conf.Configuration,
      full: String): Unit =
    try { val p = new Path(full); p.getFileSystem(conf).delete(p, false) }
    catch { case NonFatal(_) => () }

  override def abortTask(ctx: TaskAttemptContext): Unit =
    if (opened != null)
      opened.foreach { case (_, full) =>
        deleteQuietly(ctx.getConfiguration, full)
      }

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    taskCommits.add(msg)

  override def commitJob(
      job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    adds = msgs.flatMap(_.obj.asInstanceOf[Seq[AddFile]]).sortBy(_.path)

  override def abortJob(job: JobContext): Unit =
    taskCommits.asScala.flatMap(_.obj.asInstanceOf[Seq[AddFile]])
      .foreach(a => deleteQuietly(job.getConfiguration,
        new Path(root, a.path).toString))
}
