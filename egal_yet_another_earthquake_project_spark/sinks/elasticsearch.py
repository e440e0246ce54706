"""Elasticsearch bulk sink (SURVEY S5) — executor-parallel, idempotent.

The reference collects the ENTIRE table to the driver (``toPandas`` at
/root/reference/sparktoELKstream.py:34), iterates rows in Python, and bulk-
posts to a single node — the scalability cliff of the whole pipeline, and
non-idempotent (no ``_id``, so re-runs duplicate documents).

Engine design:
* each **partition** serializes its own rows to bulk-API action lines and
  posts them — no driver collect, parallelism = partition count;
* ``_id`` = the business key (eventID), so micro-batch replays and the
  reference's overlapping-poll duplicates collapse into upserts (ST2/ST5);
* the HTTP transport is pluggable: production uses ``urllib`` (stdlib —
  the container has no elasticsearch client), tests inject a collector.

For streaming, wrap with ``foreachBatch`` via :func:`streaming_es_sink`.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row

#: transport(url, payload_lines) -> None; payload is ndjson bulk body.
Transport = Callable[[str, str], None]

#: Documents per bulk POST, per partition.
BULK_DOCS = 1000


def http_transport(url: str, payload: str) -> None:
    """Minimal stdlib bulk POST (no external ES client dependency)."""
    import urllib.request

    req = urllib.request.Request(
        url,
        data=payload.encode("utf-8"),
        headers={"Content-Type": "application/x-ndjson"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:  # noqa: S310 — caller supplies the URL
        resp.read()


def bulk_actions(rows: Iterator[Row], index: str, id_col: str) -> Iterator[str]:
    """Rows → ES bulk ndjson action/document line pairs (the executor-side
    replacement for the reference's driver-side doc_generator,
    /root/reference/sparktoELKstream.py:33-40)."""
    for row in rows:
        doc: dict[str, Any] = row.asDict(recursive=True)
        meta = {"index": {"_index": index, "_id": str(doc[id_col])}}
        yield json.dumps(meta, default=str)
        yield json.dumps(doc, default=str)


def write_to_es(
    df: DataFrame,
    index: str,
    es_url: str = "http://localhost:9200",
    id_col: str = "eventID",
    transport: Transport = http_transport,
) -> None:
    """Bulk-index a DataFrame: one POST per :data:`BULK_DOCS` docs per
    partition, entirely on executors."""
    url = f"{es_url.rstrip('/')}/_bulk"

    def per_partition(rows: Iterator[Row]) -> None:
        lines: list[str] = []
        for line in bulk_actions(rows, index, id_col):
            lines.append(line)
            if len(lines) >= BULK_DOCS * 2:
                transport(url, "\n".join(lines) + "\n")
                lines = []
        if lines:
            transport(url, "\n".join(lines) + "\n")

    df.foreachPartition(per_partition)


def streaming_es_sink(
    index: str,
    es_url: str = "http://localhost:9200",
    id_col: str = "eventID",
    transport: Transport = http_transport,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function: exactly-once-effective because the upsert
    ``_id`` makes replayed micro-batches idempotent."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_to_es(batch_df, index, es_url, id_col, transport=transport)

    return sink
