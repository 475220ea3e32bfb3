package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables

/** Schema evolution ON the snapshot table layer. Every version root
  * declares the table's schema (see [[Snapshot]]), so evolution is a
  * metadata change and reads never consult a footer. Same design
  * center as Delta's metadata action / Iceberg's schema in table
  * metadata, reduced to this layer's primitives:
  *
  *  - **Add-column = one metadata-only commit.** [[evolve]] is a
  *    write transaction ([[Snapshot.transact]]) that re-commits the
  *    CURRENT file set with the widened schema — every shard pointer
  *    is reused (the base file set is unchanged), no data file is
  *    touched, commit IO is O(partitions), and a lost commit race
  *    re-validates against the winner. Only ADDS are accepted:
  *    renames/retypes need a rewrite and are refused loudly.
  *  - **Every later commit carries the schema forward.** Appends,
  *    upserts, deletes, compactions and clusterings commit under the
  *    schema they pinned and rewrite kept rows under it, so an evolved
  *    column survives mutations that know nothing about it; an upsert
  *    batch lacking the column lands it as NULL.
  *  - **Reads NULL-fill from the declared schema.** [[Snapshot.read]]
  *    scans under it — files that predate a column yield NULL for it
  *    (never a positional mis-bind), files that carry it serve it, and
  *    predicates on common columns still push down to every file's
  *    scan (spec-asserted — evolution must not cost pushdown).
  *
  * Reference behavior: doc/index.rst's append-only log model plus the
  * add-column evolution every table format ships. Two gates pin the
  * NULL-fill semantics: `schema_evolution` ([[evolutionReport]]) row
  * by row over two `documents` writer generations, and
  * `snapshot_schema_evolution` as a rollup over three `events`
  * generations.
  */
object SnapshotSchema {

  /** Declare added columns: one METADATA-ONLY commit carrying the
    * widened schema — the current file set is re-committed with every
    * partition's shard pointer reused, so no data file is read,
    * written or rewritten. Existing columns must keep their exact type
    * (add-only is the one evolution that needs no rewrite);
    * re-declaring an existing column identically is a no-op add.
    * Returns the committed version.
    */
  def evolve(spark: SparkSession, dir: String,
             addCols: Seq[StructField]): Long =
    Snapshot.transact(spark, dir) { p =>
      val byName = p.schema.fields.map(f => f.name -> f).toMap
      addCols.foreach { f =>
        byName.get(f.name).foreach { existing =>
          require(existing.dataType == f.dataType,
            s"cannot evolve ${f.name}: declared ${existing.dataType}, " +
              s"got ${f.dataType} — retypes need a rewrite, not an evolve")
        }
      }
      val merged = StructType(
        p.schema.fields ++ addCols.filterNot(f => byName.contains(f.name)))
      // the same file set → every shard pointer reuses; the commit
      // writes ONE root file
      (Some(Snapshot.Write(p.files, schema = Some(merged))), p.version + 1)
    }

  // ---- gate fixture + query ----

  /** The evolution lifecycle fixture: base events committed WITHOUT
    * the new column, one metadata-only [[evolve]] adding
    * `quality_bp`, one post-evolution append whose batch CARRIES the
    * column (values a deterministic function of event_id, so the
    * oracle rebuilds them), then one unrelated append proving the
    * schema tag carries forward through mutations that know nothing
    * about it.
    */
  private[graft] def evolutionFixture(spark: SparkSession,
                                      dir: String): String =
    graft.Memo.dir(spark, "snapschema", dir) { tmp =>
      val events = Tables.events(spark, dir)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("ym", date_format(col("date"), "yyyy-MM"))
        .select("event_id", "user_id", "event_type", "date", "ym")
      SnapshotOps.append(spark, tmp, events, "ym", Some("schema-base"))
      evolve(spark, tmp, Seq(StructField("quality_bp", LongType)))
      // wave with the NEW column: shifted re-ingest slice, quality
      // derived from the shifted id (oracle-reconstructible)
      val wave = events.filter(pmod(col("user_id"), lit(13)) === 5)
        .withColumn("event_id", col("event_id") + lit(4000000000L))
        .withColumn("quality_bp", pmod(col("event_id"), lit(97)) * 100L)
      SnapshotOps.append(spark, tmp, wave, "ym", Some("schema-wave"))
      // an evolution-unaware append: no quality column in the batch,
      // tag must carry forward anyway
      val plain = events.filter(pmod(col("user_id"), lit(17)) === 3)
        .withColumn("event_id", col("event_id") + lit(5000000000L))
      SnapshotOps.append(spark, tmp, plain, "ym", Some("schema-plain"))
    }

  /** Gate query: the rollup over all three generations — the
    * NULL-fill semantics are IN the output (null counts + coalesced
    * sums per event_type/date), so the hash gate proves old files
    * NULL-fill, new files serve the column, and nothing mis-binds.
    */
  def snapshotSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = evolutionFixture(spark, dir)
    Snapshot.read(spark, tmp)
      .groupBy(col("event_type"), col("date"))
      .agg(count(lit(1)).as("n"),
        sum("event_id").as("sum_id"),
        sum(when(col("quality_bp").isNull, 1L).otherwise(0L)).as("n_null_q"),
        sum(coalesce(col("quality_bp"), lit(0L))).as("sum_q"))
      .orderBy("event_type", "date")
  }

  /** The `schema_evolution` gate: two writer generations of
    * `documents` in one table rebuilt on every call — generation 1
    * (even ids: doc_id, lang, source) appended, `n_tokens` declared by
    * [[evolve]], generation 2 (odd ids, carrying `n_tokens`) appended —
    * then every row of the snapshot read with an explicit presence flag,
    * so the NULL fill is IN the output. The oracle rebuilds the merge
    * from the raw table via the same generation split.
    */
  def evolutionReport(spark: SparkSession, dir: String): DataFrame = {
    val tmp = SnapshotOps.freshTable(spark, "schemaevo", dir)
    val docs = Tables.documents(spark, dir)
    SnapshotOps.append(spark, tmp,
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang", "source"),
      "lang")
    evolve(spark, tmp, Seq(StructField("n_tokens", LongType)))
    SnapshotOps.append(spark, tmp,
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("lang"),
        col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
      "lang")
    Snapshot.read(spark, tmp)
      .select(col("doc_id"), col("lang"),
        when(col("n_tokens").isNotNull, 1L).otherwise(0L).as("has_tokens"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"))
      .orderBy("doc_id")
  }
}
