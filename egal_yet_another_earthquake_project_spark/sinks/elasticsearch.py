"""Elasticsearch bulk sink (SURVEY S5) — JVM-serialized, idempotent.

The reference collects the ENTIRE table to the driver (``toPandas``,
``sparktoELKstream.py:34``), builds every document in Python and
bulk-posts to a single node without an ``_id``, so re-runs duplicate
documents.

Engine design:
* Catalyst renders each row's bulk line pair (``to_json`` action line,
  newline, ``to_json`` document) — no Python worker, no per-row pickling;
* ONE ``collect()`` job brings a write's lines to the driver, which posts
  them through the transport in requests of :data:`BULK_DOCS` documents.
  A job that runs Python workers pays about 0.5 s of fixed cost on a
  4-vCPU host, most of a live micro-batch; a JVM-only collect does not;
* ``_id`` = the business key (eventID), so micro-batch replays and the
  reference's overlapping-poll duplicates collapse into upserts (ST2/ST5);
* the HTTP transport is pluggable: production uses ``urllib`` (stdlib, no
  Elasticsearch client dependency), tests inject a collector.

Memory bound: the driver holds one write's lines at a time (collected
rows in the JVM, then Python strings), about 400–450 B of JSON per silver
document with its action line; a 20k-document streaming burst is about
9 MB. A batch load far larger than the driver heap should be written in
slices (e.g. per day partition) rather than in one call.

For streaming, wrap with ``foreachBatch`` via :func:`streaming_es_sink`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: transport(url, payload_lines) -> None; payload is ndjson bulk body.
Transport = Callable[[str, str], None]

#: Documents per bulk POST.
BULK_DOCS = 1000

#: Document rendering: nulls kept as ``null`` (as ``json.dumps`` of the
#: row dict does) and timestamps as ``str(datetime)`` renders a
#: whole-second value, which ES's default date detection accepts.
_DOC_JSON = {"ignoreNullFields": "false", "timestampFormat": "yyyy-MM-dd HH:mm:ss"}


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


def _bulk_line(df: DataFrame, index: str, id_col: str) -> Column:
    """One row → ``{"index": {"_index", "_id"}}`` + ``\\n`` + the row as a
    JSON document (the reference's driver-side doc_generator,
    ``sparktoELKstream.py:33-40``, as one Catalyst expression)."""
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"),
                F.col(id_col).cast("string").alias("_id"),
            ).alias("index")
        )
    )
    doc = F.to_json(F.struct(*df.columns), _DOC_JSON)
    return F.concat(action, F.lit("\n"), doc)


def write_to_es(
    df: DataFrame,
    index: str,
    es_url: str = "http://localhost:9200",
    id_col: str = "eventID",
    transport: Transport = http_transport,
) -> None:
    """Bulk-index a DataFrame: one Spark job renders every bulk line, then
    the driver posts them in requests of :data:`BULK_DOCS` documents."""
    url = f"{es_url.rstrip('/')}/_bulk"
    lines = [row[0] for row in df.select(_bulk_line(df, index, id_col)).collect()]
    for start in range(0, len(lines), BULK_DOCS):
        transport(url, "\n".join(lines[start : start + BULK_DOCS]) + "\n")


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
