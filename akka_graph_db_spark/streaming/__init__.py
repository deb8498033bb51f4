"""Streaming surface: the reference's actor mailbox re-expressed as a
Structured Streaming mutation-log fold (SURVEY.md §2.6)."""

from pyspark.sql.streaming import DataStreamWriter


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run ``writer`` once over everything its source has available
    (Trigger.AvailableNow), checkpointed at ``checkpoint_dir``, and block
    until it terminates — the one drain every batch-testable streaming
    entry point shares."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
