"""Index-update sink: batched JSON documents, buffered deletes.

Behavioral spec (reference, NOT code): Solr/SolrUpdater.php:2944-3053 —
documents buffer into update requests of ≤ ``max_update_records`` (5000)
and ≤ ``max_update_size`` KB; deletions batch as id lists (1000/batch).
Command/Solr/DumpUpdates.php writes the would-be requests to files.

Spark-first: the batch boundary maps to the file boundary —
``maxRecordsPerFile`` bounds docs-per-request and partition count bounds
parallel POSTs (the reference's ``solr_update_workers``). The dump variant
IS the sink in a network-free engine; the live HTTP pusher — with the
reference's ``max_update_tries``/``update_retry_wait`` retry loop and the
SolrCloud cluster-state health pause — ships as
``examples/solr_pusher.py`` (``push_dataframe`` = foreachPartition POST
over exactly these batches, transport injected like the other example
clients).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_UPDATE_RECORDS = 5000
DELETE_BATCH = 1000


def write_update_batches(
    df: DataFrame,
    path: str,
    max_update_records: int = DEFAULT_MAX_UPDATE_RECORDS,
) -> None:
    """Write index documents as JSON-lines files of bounded batch size."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_update_records)
        .json(path)
    )


def write_delete_batches(
    deleted_ids: DataFrame, id_col: str, path: str, batch: int = DELETE_BATCH
) -> None:
    """Buffered deletes: id-list files of ≤ batch ids (SolrUpdater:3006-3028)."""
    (
        deleted_ids.select(F.col(id_col).alias("id"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", batch)
        .json(path)
    )
