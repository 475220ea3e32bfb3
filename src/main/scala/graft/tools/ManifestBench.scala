package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.Snapshot

/** Synthetic manifest-scale probe (r10 verdict ask #5): the flat
  * manifest's stated cost was "a million-file table is a ~100 MB
  * manifest rewritten whole on every commit"; the sharded layout's
  * claim is commit IO = O(churn + partitions). This probe measures
  * both claims on a synthetic million-file table — MANIFEST
  * operations only, no data files (nothing in the commit/read path
  * stats data files):
  *
  *  1. bootstrap commit (every shard written — the conversion cost);
  *  2. full manifest read (root + all shards);
  *  3. churn commit: one partition's file set changes, every other
  *     partition's shard pointer is reused;
  *  4. pruned read: resolving a single partition.
  *
  * Usage: `runMain graft.tools.ManifestBench [nFiles] [nParts]`
  * (defaults 1,000,000 files over 1,000 partitions). One JSON line.
  */
object ManifestBench {

  def main(args: Array[String]): Unit = {
    val nFiles = if (args.length > 0) args(0).toInt else 1000000
    val nParts = if (args.length > 1) args(1).toInt else 1000
    val perPart = nFiles / nParts
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_bench").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(new Configuration())

    def f2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val files: Seq[String] = (0 until nParts).flatMap { p =>
      (0 until perPart).map(j => f"date=2026-01-${p % 28 + 1}%02d.$p/u1_boot/part-$j%05d.parquet")
    }
    // every root declares its table's schema: a two-column stand-in
    val schema = new StructType().add("event_id", LongType).add("date", StringType)
    val (v1, bootSec) = timed(Snapshot.commit(fs, root, files, 0L, schema))
    val (read1, readSec) = timed(Snapshot.filesOf(fs, root, v1))
    require(read1.size == files.size, s"read ${read1.size} of ${files.size}")

    // churn: one partition gains a file — the nightly-append shape
    val touched = files.head.takeWhile(_ != '/')
    val files2 = files :+ s"$touched/u2_churn/part-new.parquet"
    val (v2, churnSec) = timed(
      Snapshot.commit(fs, root, files2, v1, schema, baseFiles = Some(files)))
    val reused = Snapshot.shardRefsOf(fs, root, v1).toMap
    val after = Snapshot.shardRefsOf(fs, root, v2).toMap
    val rewritten = after.count { case (p, s) => !reused.get(p).contains(s) }
    require(rewritten == 1, s"$rewritten shards rewritten for 1-partition churn")

    val (pruned, pruneSec) = timed(
      Snapshot.filesOfPruned(fs, root, v2)(_ == touched))
    require(pruned.size == perPart + 1)

    // the flat layout's reference point: one file holding every path
    val flatPath = new Path(root, "flat.manifest")
    val (_, flatWriteSec) = timed {
      val out = fs.create(flatPath, true)
      try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    val flatBytes = fs.getFileStatus(flatPath).getLen
    val rootBytes = fs.getFileStatus(new Path(
      new Path(root, Snapshot.MetaDir), f"v$v2%08d.manifest")).getLen

    // bloom-weight bound (SURVEY §4): the same partition's shard with
    // per-file 65536-bit filters carried INLINE (base64 in the shard
    // line) vs as content-addressed SIDECAR references — the r12
    // continuation past the documented ~10⁵-file embedded bound. One
    // partition stands in for all (shards are per-partition).
    def bloomSuffix(value: String) = s"event_id%23bloom:B:$value:"
    val partFiles = files2.filter(_.startsWith(touched + "/"))
    val inlineB64 = java.util.Base64.getEncoder
      .encodeToString(new Array[Byte](8192))
    val (v3, inlineShardBytes) = {
      val v = Snapshot.commit(fs, root, files2, v2, schema,
        baseFiles = Some(files2),
        stats = partFiles.map(f => f -> bloomSuffix(inlineB64)).toMap)
      val shard = Snapshot.shardRefsOf(fs, root, v).toMap.apply(touched)
      (v, fs.getFileStatus(new Path(
        new Path(new Path(root, Snapshot.MetaDir), "shards"), shard)).getLen)
    }
    val (_, sidecarShardBytes) = {
      val ref = "@" + "ab12cd34" * 4 + ".bloom"
      val v = Snapshot.commit(fs, root, files2, v3, schema,
        baseFiles = Some(files2),
        stats = partFiles.map(f =>
          f -> bloomSuffix(java.net.URLEncoder.encode(ref, "UTF-8"))).toMap)
      val shard = Snapshot.shardRefsOf(fs, root, v).toMap.apply(touched)
      (v, fs.getFileStatus(new Path(
        new Path(new Path(root, Snapshot.MetaDir), "shards"), shard)).getLen)
    }

    println(s"""{"metric":"manifest_bench","n_files":$nFiles,"n_parts":$nParts,"bootstrap_commit_sec":${f2(bootSec)},"full_read_sec":${f2(readSec)},"churn_commit_sec":${f2(churnSec)},"pruned_read_sec":${f2(pruneSec)},"shards_rewritten_on_churn":$rewritten,"root_bytes":$rootBytes,"flat_manifest_bytes":$flatBytes,"flat_write_sec":${f2(flatWriteSec)},"bloom_part_files":${partFiles.size},"inline_bloom_shard_bytes":$inlineShardBytes,"sidecar_bloom_shard_bytes":$sidecarShardBytes}""")

    // scratch cleanup
    fs.delete(root, true)
  }
}
