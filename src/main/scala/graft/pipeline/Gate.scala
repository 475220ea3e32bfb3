package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Fixed, cross-process locations for driver-gate artifacts — the
  * persisted-intermediate discipline that turns engine-specific
  * operators (hash signatures, LSH band keys, KMeans cell
  * assignments) into hash-exact gates: the Spark query persists its
  * engine-specific INTERMEDIATE here, and the DuckDB oracle
  * re-derives the operator's OUTPUT from the very same parquet bytes.
  * The approximate structure stays engine-specific; everything from
  * the artifact to the answer (bucket joins, exact verify, cosine
  * ranking) is re-computed independently by both engines.
  *
  * NOT TmpDir-scoped: the oracle runs in a separate process after the
  * Spark session exits and must name the same files — the same
  * per-user predictable-path discipline as
  * [[Dedup.BandStatsGatePath]] / [[graft.sources.StorageStats]].
  */
object Gate {

  val Root: String = new java.io.File(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"),
    "graft_gate_" + sys.props.getOrElse("user.name", "anon")
      .replaceAll("[^A-Za-z0-9_.-]", "_")).getPath

  /** The (fixed, oracle-visible) artifact directory of one operator. */
  def path(op: String): String = s"$Root/$op"

  /** Run `write` once per (session, op, input dir) — gate artifacts
    * are memoized like every other session fixture so bench re-runs
    * pay the write exactly once. Returns the artifact directory.
    * Blocking memo: queries may warm concurrently, and a second caller
    * must wait for the write, never read a half-written artifact.
    */
  def once(spark: SparkSession, op: String, dir: String)
          (write: String => Unit): String = {
    val p = path(op)
    graft.Memo(spark, "gate", (op, dir))(write(p))
    p
  }
}
