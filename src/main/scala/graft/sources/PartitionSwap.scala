package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** A directory rewrite-and-swap commit, used by
  * [[graft.pipeline.Ann.ivfIndexRebuild]] to replace an index's
  * relations. Table mutations commit through [[Snapshot]] manifests
  * instead. The swap per directory is: (1) stage the rewritten files
  * (job commit ends with `_SUCCESS`), (2) rename the live dir into the
  * trash, (3) rename the staged dir into place, (4) drop the trash.
  *
  * Directory RENAME is the commit primitive (atomic on HDFS and
  * posix filesystems), never file-by-file moves into a live dir — a
  * mid-crash can therefore never mix old and new files. On an object
  * store without atomic dir rename this is exactly where a table
  * format's transaction log takes over; the reader-visible gap
  * between (2) and (3) is the gap Delta/Iceberg close.
  */
private[graft] object PartitionSwap {

  /** Crash recovery, run before every planning pass. Every window of
    * the swap protocol is recoverable:
    *
    *  - stage without `_SUCCESS`: staging died — live dir untouched,
    *    drop the stage;
    *  - stage with `_SUCCESS` and the live dir present: died between
    *    (1) and (2) — drop the stage, a re-plan re-stages (the
    *    rewrite is idempotent);
    *  - stage with `_SUCCESS` and the live dir missing: died between
    *    (2) and (3) — complete the swap (the staged copy is whole);
    *  - trash leftovers: died at (4) — drop them.
    */
  def recover(fs: FileSystem, root: Path,
              stageName: String, trashName: String): Unit = {
    val stageRoot = new Path(root, stageName)
    if (fs.exists(stageRoot)) {
      fs.listStatus(stageRoot).filter(_.isDirectory).foreach { st =>
        val live = new Path(root, st.getPath.getName)
        val staged = fs.exists(new Path(st.getPath, "_SUCCESS"))
        if (staged && !fs.exists(live)) {
          if (!fs.rename(st.getPath, live))
            throw new java.io.IOException(s"swap recovery failed for $live")
        } else fs.delete(st.getPath, true)
      }
      fs.delete(stageRoot, true)
    }
    fs.delete(new Path(root, trashName), true)
  }

  /** Commit one staged partition: live → trash, stage → live, drop
    * trash. The caller has already written the staged dir (with its
    * `_SUCCESS` marker) under `<root>/<stageName>/<partition>`.
    */
  def commit(fs: FileSystem, root: Path, partition: String,
             stageName: String, trashName: String): Unit = {
    val live = new Path(root, partition)
    val stage = new Path(root, s"$stageName/$partition")
    val trash = new Path(root, s"$trashName/$partition")
    fs.mkdirs(trash.getParent)
    if (!fs.rename(live, trash) || !fs.rename(stage, live))
      throw new java.io.IOException(s"partition swap failed for $live")
    fs.delete(trash, true)
    fs.delete(new Path(live, "_SUCCESS"), false)
  }
}
