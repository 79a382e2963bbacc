from pyspark.sql import DataFrame


def start_foreach_batch(stream: DataFrame, process_batch, checkpoint: str):
    """Start `process_batch(batch_df, batch_id)` on every micro-batch of
    `stream`, with its progress checkpointed under `checkpoint`."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
