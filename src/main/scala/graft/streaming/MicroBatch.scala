package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** The three decisions every foreachBatch sink in this package shares,
  * one place each (foreachBatch contract: Armbrust et al., SIGMOD 2018).
  *
  *  - [[drain]]: how a sink consumes its stream — append mode, one
  *    checkpoint, everything available now, then stop.
  *  - [[applied]]: when a re-delivered batch is skipped. Delivery is at
  *    least once, so a sink records `(checkpoint tag, batch id)` with
  *    every apply; batch ids are only meaningful within one checkpoint
  *    lineage, so a rebuilt checkpoint (new tag, ids restarting at 0) is
  *    never skipped — skipping on id alone would drop its new data.
  *  - [[latestPerKey]]: how a CDC batch becomes unique per key — the last
  *    writer by `orderCol` wins.
  */
private[streaming] object MicroBatch {

  /** Drain everything available on `stream` through `apply(batch,
    * batchId)`, checkpointed at `checkpoint`. */
  def drain(stream: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(apply)

  /** True iff `last` — the (tag, batchId) a sink recorded with its last
    * apply — already covers batch `batchId` of lineage `tag`. */
  def applied(last: (String, Long), tag: String, batchId: Long): Boolean =
    last._1 == tag && last._2 >= batchId

  /** One row per `keys` — the greatest `orderCol` wins — with `orderCol`
    * dropped. Rejects inputs the reduction would silently corrupt: an
    * `orderCol` that is also a key (dropping it would drop the key) and a
    * batch carrying its own `__rn` (the internal rank column would replace
    * and then drop it). */
  def latestPerKey(batch: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    require(!keys.contains(orderCol),
      s"orderCol '$orderCol' cannot also be a key: it is dropped after the " +
        "per-key reduce, which would silently remove a merge key")
    require(!batch.columns.contains("__rn"),
      "input column '__rn' collides with the reduce's internal rank column")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", orderCol)
  }
}
