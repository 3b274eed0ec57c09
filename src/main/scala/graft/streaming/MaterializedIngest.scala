package graft.streaming

import graft.sources.{Materialized, SidecarIo, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING MATERIALIZED-VIEW MAINTENANCE — the end of the derived-
  * state story: every arriving micro-batch (1) lands as a snapshot
  * commit and (2) folds into the view through
  * [[Materialized.refresh]], so the aggregate is fresh within one
  * micro-batch latency while costing O(batch) per batch — the
  * streaming by-hand alternative (re-aggregate on a schedule) pays
  * O(table) per run and is stale in between.
  *
  * Because the refresh consumes the table's CDC rather than the batch
  * frame, OTHER writers compose for free: a retention delete, an
  * upsert, or a compaction committed between micro-batches is folded
  * by the next batch's refresh (compaction contributing nothing) —
  * the view tracks the TABLE, not just this stream.
  *
  * ==Exactly-once by idempotence==
  * `foreachBatch` is at-least-once; both halves dedupe a replay. The
  * landing is a tagged append (`mvland-<id>` — the replay finds the
  * tag and commits nothing). The fold is [[Materialized.refresh]],
  * whose window pin + tagged single commit make a replayed window
  * advance bookkeeping without refolding. A crash between the two
  * halves replays into "landing dedupes, refresh folds the already-
  * landed window" — the fold happens exactly once either way.
  *
  * The view is created LAZILY on the first batch ([[Materialized
  * .create]] is itself re-runnable: pinned snapshot, tagged seed
  * commit), so a cold start needs no pre-existing table. One
  * maintainer per view: the streaming query is the view's single
  * refresher (concurrent refreshers would race the baseline file —
  * the usual single-writer contract for a derived artifact).
  */
object MaterializedIngest {

  /** One micro-batch: land, then fold. Exposed for direct testing
    * and backfill. Returns the table version the batch landed as
    * (the existing version when the batch is a replay). */
  def processBatch(batch: DataFrame, batchId: Long, table: String,
                   mv: String, keyCols: Seq[String],
                   sumCols: Seq[String],
                   filterSql: String = ""): Long = {
    val spark = batch.sparkSession
    val v = Snapshot.append(batch, table,
      tag = Some(s"mvland-$batchId"))
    if (!SidecarIo.exists(spark, s"$mv/config.json"))
      Materialized.create(spark, table, mv, keyCols, sumCols,
        filterSql)
    else
      Materialized.refresh(spark, table, mv): Unit
    v
  }

  /** Start the loop over a streaming DataFrame whose rows carry the
    * table's schema. Callers own the returned query's lifecycle; the
    * checkpoint carries source offsets, so a restart resumes from
    * the next unprocessed batch (replayed batches dedupe — see
    * object doc). */
  def start(stream: DataFrame, table: String, mv: String,
            keyCols: Seq[String], sumCols: Seq[String],
            checkpoint: String, filterSql: String = ""): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, table, mv, keyCols, sumCols,
          filterSql): Unit
      }
      .start()
}
