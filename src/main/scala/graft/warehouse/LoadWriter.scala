package graft.warehouse

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The one write path of every warehouse load: scan once, stage every
  * sink, publish all of them or none (reference: load_hhs.py:148 commits
  * a whole load as one transaction).
  *
  * Scan once: a load's sinks are lazy frames over one CSV-derived,
  * cleaned and validated frame (`source`). [[scanOnce]] persists it for
  * the duration of the writes, so the CSV is parsed, cleaned and
  * validated by the first sink and read from memory by the others.
  * Spark's cache lookup matches plans, so sink frames built before the
  * persist pick the cached relation up with no change to sink code.
  * Two things must NOT be cached here:
  *  - anything derived from a warehouse read (the anti-join outputs):
  *    a later append to that table makes Spark recompute the cached
  *    frame against the new files (`CacheManager.recacheByPath`), so a
  *    second sink of the same frame would silently see zero new rows;
  *  - post-shuffle frames: every read of one runs a task per shuffle
  *    partition, which costs more than the recompute it saves.
  *
  * All or nothing: [[write]] writes every parquet table and the reject
  * CSV under `<warehouse>/_staging/<load-id>/`. Only after every Spark
  * write has succeeded are they moved into the live directories: table
  * files join the live table (new partition directories move whole,
  * existing ones gain the staged files), and the reject directory is
  * swapped for the new one. Every move is recorded and, if a later move
  * fails, undone in reverse order. On any failure the staging directory
  * is deleted and the live warehouse is left as it was.
  */
object LoadWriter {

  /** One parquet table of the warehouse, appended to `<warehouse>/<name>`. */
  final case class Table(name: String, frame: DataFrame, partitionBy: Seq[String] = Nil)

  /** Persist `source` while `writes` runs; unpersist it however they end. */
  def scanOnce[T](source: DataFrame)(writes: => T): T = {
    source.persist()
    try writes finally source.unpersist()
  }

  /** Write `tables` into `warehouseDir` and replace `rejectDir` with
    * `rejects` (a headed CSV), all from one scan of `source`, published
    * together or not at all. */
  def write(source: DataFrame, warehouseDir: String, tables: Seq[Table],
            rejects: DataFrame, rejectDir: String): Unit = scanOnce(source) {
    val spark = source.sparkSession
    val stagingRoot = new Path(warehouseDir, StagingDir)
    val staging = new Path(stagingRoot, UUID.randomUUID().toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      tables.foreach { t =>
        t.frame.write.partitionBy(t.partitionBy: _*)
          .parquet(new Path(staging, t.name).toString)
      }
      val stagedRejects = new Path(staging, "rejects")
      rejects.write.option("header", "true").csv(stagedRejects.toString)

      val moves = new Moves(fs)
      try {
        // the reject directory lives outside the warehouse, so its move
        // is the likeliest to fail: make it first
        val liveRejects = new Path(rejectDir)
        if (!fs.mkdirs(liveRejects.getParent))
          throw new IOException(s"cannot create ${liveRejects.getParent}")
        if (fs.exists(liveRejects)) moves(liveRejects, new Path(staging, "replaced_rejects"))
        moves(stagedRejects, liveRejects)
        tables.foreach(t => merge(fs, moves, new Path(staging, t.name), new Path(warehouseDir, t.name)))
      } catch {
        case e: Throwable =>
          try moves.undo() catch { case u: Throwable => e.addSuppressed(u) }
          throw e
      }
      // the moves bypass Spark's writers, which would refresh these
      (rejectDir +: tables.map(t => new Path(warehouseDir, t.name).toString))
        .foreach(spark.catalog.refreshByPath)
    } finally {
      fs.delete(staging, true)
      if (fs.exists(stagingRoot) && fs.listStatus(stagingRoot).isEmpty) fs.delete(stagingRoot, false)
    }
  }

  /** Staging area under the warehouse root; the leading underscore hides
    * it from Spark's file listing of the warehouse. */
  val StagingDir = "_staging"

  /** Move the staged `from` into the live `to`: whole when `to` does not
    * exist, else file by file into its existing subdirectories. Hidden
    * files (`_SUCCESS`) stay behind in staging. */
  private def merge(fs: FileSystem, moves: Moves, from: Path, to: Path): Unit =
    if (!fs.exists(to)) moves(from, to)
    else if (!fs.getFileStatus(to).isDirectory) throw new IOException(s"$to is not a directory")
    else fs.listStatus(from).iterator
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .foreach { s =>
        val target = new Path(to, s.getPath.getName)
        if (s.isDirectory) merge(fs, moves, s.getPath, target) else moves(s.getPath, target)
      }

  /** Renames made so far, so a failed publish can put every one back. */
  private final class Moves(fs: FileSystem) {
    private var done = List.empty[(Path, Path)]

    def apply(from: Path, to: Path): Unit = {
      if (fs.exists(to) || !fs.rename(from, to))
        throw new IOException(s"cannot move $from to $to")
      done ::= from -> to
    }

    def undo(): Unit = done.foreach { case (from, to) =>
      if (!fs.rename(to, from)) throw new IOException(s"cannot move $to back to $from")
    }
  }
}
