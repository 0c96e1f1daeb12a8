package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed change-set application — the `MERGE INTO` / CDC-apply analog
  * for the parquet-only environment (pair with [[Publish]] to land the
  * merged result atomically). The reference refreshes its corpus by
  * full overwrite (`02_merchcat_ml.py` retrain-from-scratch); at 100 TB
  * a full rewrite per refresh is not viable, so incremental keyed
  * upsert is the operation a production corpus actually needs.
  *
  * Scale shape: the CHANGES side (typically ≪ base) is the only side
  * that shuffles — a fixed-width `max(seq)` aggregate per key plus one
  * equi-join on `(key, seq)` resolves each key to its latest change
  * ([[latestChanges]]), and the touched-key set is broadcast into a
  * left-anti join so the base table streams through without an
  * exchange. The base is read once and never sorted, shuffled, or
  * collected.
  */
object Merge {

  /** Resolve a CDC change stream to its latest change per key by
    * `seqCol` (commit/sequence ordering — `(key, seq)` must be unique,
    * the standard CDC LSN contract): winning seq per key via a
    * fixed-width `max` hash aggregate (a `max_by(struct(...))` would
    * silently fall back to SortAggregate — a sort of the full change
    * rows on both sides of its shuffle, because the struct buffer is
    * var-length), then one equi-join on `(key, seq)` fetches the
    * winning payload. The payload rows shuffle exactly once, unsorted
    * pre-aggregation.
    *
    * Ties are not broken: every change at a key's max `seq` wins, so a
    * key with two changes at that `seq` (two payloads, or one change
    * delivered twice) comes back twice, and [[applyCdc]] upserts both.
    * [[graft.ext.PartitionedIndex.update]] raises on such a batch,
    * naming the tied keys, before it writes anything. */
  def latestChanges(changes: DataFrame, key: String, seqCol: String): DataFrame = {
    val winners = changes.groupBy(col(key)).agg(max(col(seqCol)).as(seqCol))
    changes.join(winners, Seq(key, seqCol))
  }

  /** Snapshot diff: classify every key across two corpus versions as
    * `added` / `removed` / `changed` / `same` by content hash — the
    * audit between published versions (what did this refresh actually
    * touch?) and the input to an incremental re-processing decision
    * (only `added`+`changed` need re-scoring/re-embedding).
    *
    * Scale shape: content hashes are computed in a narrow pass BEFORE
    * the join, so the full-outer join carries only `(id, md5)` per
    * side — document bodies never shuffle. One exchange per side, the
    * minimum any keyed diff needs. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(key).as("__k"), md5(col(textCol)).as("__ho"))
    val n = newDf.select(col(key).as("__k"), md5(col(textCol)).as("__hn"))
    o.join(n, Seq("__k"), "full_outer")
      .select(col("__k").as(key),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") === col("__hn"), "same")
          .otherwise("changed").as("status"))
  }

  /** Apply a CDC change set to a base table. Per key the highest-`seqCol`
    * change wins ([[latestChanges]], ties included); a winning
    * `opCol == "d"` deletes the key; any other winning op upserts the
    * change's payload (update if the key exists in base, insert if
    * not). Base rows with no change pass through
    * untouched. `changes` must carry every base column plus `seqCol`
    * and `opCol`; the result has exactly the base schema.
    *
    * `broadcastChanges = false` opts out of the broadcast anti join for
    * the rare change set too large to broadcast — Spark then plans a
    * shuffled anti join on the key.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, key: String,
               seqCol: String = "seq", opCol: String = "op",
               broadcastChanges: Boolean = true): DataFrame = {
    val latest = latestChanges(changes, key, seqCol)
    val touched = latest.select(key)
    val untouched = base.join(
      if (broadcastChanges) broadcast(touched) else touched,
      Seq(key), "left_anti")
    val upserts = latest.where(col(opCol) =!= lit("d"))
      .select(base.columns.map(c => col(s"`$c`")).toSeq: _*)
    untouched.unionByName(upserts)
  }
}
