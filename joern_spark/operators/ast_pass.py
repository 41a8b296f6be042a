"""AST creation pass: docs → unified CPG row stream (nodes + edges + span
provenance) via one vectorized ``mapInArrow`` over document partitions.

Reference: ``c2cpg/.../passes/AstCreationPass.scala:20-76`` — parts are files,
parsed in worker threads, absorbed per-part. Here parts are document-table
partitions; each document is parsed exactly once and the unified row stream is
split downstream by ``rowtype`` (persist/materialize before splitting so the
parse is not re-run per consumer).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frontend.lowering import lower_doc
from ..schema import CPGROW_SCHEMA_DDL, EDGE_COLUMNS, NODE_COLUMNS, arrow_schema

_ALL_COLUMNS = [c.strip().split(" ")[0] for c in CPGROW_SCHEMA_DDL.split(", ")]


def _rows_for_doc(doc_id: str, spans) -> list[dict]:
    span_dicts = [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
         "offset": s["offset"]}
        for s in spans
    ]
    try:
        node_rows, edge_rows, span_rows = lower_doc(doc_id, span_dicts)
    except Exception as exc:  # total function: a bad doc degrades, not fails
        return [{"rowtype": "error", "doc_id": doc_id, "code": repr(exc)[:500]}]
    # node rows are built fresh per lower_doc call (dict(_EMPTY_ROW) copies),
    # so tag them in place rather than copying ~20-key dicts again
    out: list[dict] = node_rows
    for n in node_rows:
        n["rowtype"] = "node"
    for e in edge_rows:
        out.append({
            "rowtype": "edge", "doc_id": doc_id, "method_id": e["method_id"],
            "edge_src": e["src"], "edge_dst": e["dst"], "edge_kind": e["kind"],
            "edge_variable": e["variable"],
        })
    for s in span_rows:
        out.append({
            "rowtype": "span", "doc_id": doc_id, "span_offset": s["span_offset"],
            "name": s["kind"], "code": s["text"], "media_ref": s["media_ref"],
        })
    return out


def parse_docs(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → unified CPG row stream.

    Arrow-native batching (``mapInArrow`` + ``pa.Table.from_pylist``): the
    row dicts become Arrow columns in one C++ pass, with Python ints landing
    in int64 EXACTLY — no pandas object-frame build, no per-column
    ``astype("Int64")``, and no float64 window where a 64-bit hash id could
    round (CLAUDE.md's 2^53 hazard never exists on this path).
    """
    import pyarrow as pa

    schema = arrow_schema(CPGROW_SCHEMA_DDL)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            rows: list[dict] = []
            for doc_id, spans in zip(batch.column("doc_id").to_pylist(),
                                     batch.column("spans").to_pylist()):
                rows.extend(_rows_for_doc(doc_id, spans))
            # from_pylist(schema=...) null-fills missing keys, so sparse
            # node/edge/span rows need no per-row column padding
            yield from pa.Table.from_pylist(rows, schema=schema).to_batches()

    return docs.mapInArrow(run, schema=CPGROW_SCHEMA_DDL)


def split_rows(cpg_rows: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the unified stream into (nodes, edges, spans_provenance)."""
    nodes = cpg_rows.filter(F.col("rowtype") == "node").select(*NODE_COLUMNS)
    edges = (
        cpg_rows.filter(F.col("rowtype") == "edge")
        .select(
            F.col("edge_src").alias("src"),
            F.col("edge_dst").alias("dst"),
            F.col("edge_kind").alias("kind"),
            F.col("edge_variable").alias("variable"),
            "doc_id",
            "method_id",
        )
    )
    spans = cpg_rows.filter(F.col("rowtype") == "span").select(
        "doc_id", "span_offset", F.col("name").alias("kind"),
        F.col("code").alias("text"), "media_ref",
    )
    return nodes, edges, spans
