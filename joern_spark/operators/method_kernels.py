"""Fused per-method kernel pass: CFG + dominators/CDG + reaching-def + type
recovery in ONE shuffle-free ``mapInArrow`` over the doc-partitioned parse
output.

Why: per-method work grouped by ``method_id`` through ``applyInPandas`` pays
a shuffle of every node row plus per-group pandas overhead on ~30-row groups
(measured ~88 ms CPU/doc at sf0.1, dominated by group plumbing, not kernel
math). Methods never span documents, and a document's rows never span
partitions (they are emitted by one parse call), so every per-method kernel
runs partition-locally with a python-side groupby: zero shuffles, one Arrow
pass (`cfg_edges_for_method`, `dominator_edges_for_method`,
`reaching_def_edges_for_method`, `recover_types_for_method`).

The kernel needs no corpus-wide fact. A METHOD's enclosing TYPE_DECL (the
``this`` rule) comes from the same document, so the input keeps the
document's TYPE_DECL rows. The three facts that do cross documents are
deferred to joins after the kernel, on rows the kernel emits next to its
edges (``key`` carries the lookup key):

- ``_RD_UNLESS_INTERNAL``: a REACHING_DEF edge that EdgeValidator drops when
  the callee named by ``key`` is an internal METHOD
  (:func:`vetted_reaching_defs`);
- ``_TYPE_HINT``: a recovered type (``src`` = identifier, ``variable`` =
  type);
- ``_HINT_RET`` / ``_HINT_MEMBER``: an identifier that also takes the return
  types of the callee ``key``, or the declared types of MEMBER ``key`` of
  class ``variable`` (:func:`kernel_type_events`).

Every such join goes through ``budgeted_broadcast``, so over the broadcast
budget it plans a shuffle join and nothing is collected to the driver.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ids import stub_id
from ..schema import EDGES_SCHEMA_DDL, arrow_schema
from .cfg_pass import cfg_edges_for_method
from .dims import budgeted_broadcast
from .dominators import dominator_edges_for_method
from .reaching_def import reaching_def_edges_for_method
from .type_recovery import recover_types_for_method

KERNEL_SCHEMA_DDL = f"{EDGES_SCHEMA_DDL}, key string"
_YIELD_EVERY = 50_000  # output rows per yielded Arrow frame

_RD_UNLESS_INTERNAL = "_RD_UNLESS_INTERNAL"
_TYPE_HINT = "_TYPE_HINT"
_HINT_RET = "_HINT_RET"
_HINT_MEMBER = "_HINT_MEMBER"


def _synth_param_outs(rows: list[dict]) -> list[dict]:
    """Mirror MethodDecoratorPass inside the kernel: paramOut row per
    paramIn, with the identical deterministic id (stub_id('PARAM_OUT', pid))
    so emitted edges match the table built by parameter_out_pass."""
    outs = []
    for r in rows:
        if r["kind"] != "METHOD_PARAMETER_IN":
            continue
        o = dict(r)
        o["node_id"] = stub_id("PARAM_OUT", r["node_id"])
        o["kind"] = "METHOD_PARAMETER_OUT"
        outs.append(o)
    return outs


def fused_method_kernels(
    nodes: DataFrame,
    with_dominators: bool = True,
    with_dataflow: bool = True,
) -> DataFrame:
    """parse-output nodes → kernel rows (``KERNEL_SCHEMA_DDL``),
    partition-locally: CFG (+DOMINATE/POST_DOMINATE/CDG) (+REACHING_DEF)
    edges plus the deferred-lookup rows described in the module docstring.
    :func:`kernel_edges`, :func:`vetted_reaching_defs` and
    :func:`kernel_type_events` turn them into edges and type events."""
    cols = ["node_id", "doc_id", "kind", "name", "full_name", "code",
            "signature", "dispatch_type", "order", "argument_index", "line",
            "span_offset", "type_full_name", "is_external", "parent_id",
            "method_id", "ctrl_type"]
    src = nodes.filter(
        F.col("method_id").isNotNull() | (F.col("kind") == "TYPE_DECL")
    ).select(*cols)

    import pyarrow as pa

    out_schema = arrow_schema(KERNEL_SCHEMA_DDL)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # STREAMING group-by: a document's rows are contiguous in the parse
        # output (one parse call emits the whole doc, and this pass sits
        # shuffle-free on top of it), so methods complete at doc boundaries.
        # Peak memory = one document + the output buffer — O(doc), not
        # O(partition) — restoring Arrow streaming semantics. A reappearing
        # doc_id would mean the contiguity assumption broke: fail loudly.
        # Arrow-native row I/O: ``to_pylist`` hands the kernels plain dicts
        # with exact int64 ids and None nulls (no pandas records pass), and
        # ``from_pylist`` lands the output the same way.
        out_rows: list[dict] = []

        def process(buf: dict[int, list[dict]], classes: dict[int, str]) -> None:
            for mid, rows in buf.items():
                doc_id = rows[0]["doc_id"]

                def emit(s, d, kind, var="", key=None):
                    out_rows.append({
                        "src": s, "dst": d, "kind": kind, "variable": var,
                        "doc_id": doc_id, "method_id": mid, "key": key,
                    })

                cfg = cfg_edges_for_method(rows)
                for s, d in cfg:
                    emit(s, d, "CFG")
                if with_dominators and cfg:
                    for s, d, k in dominator_edges_for_method(rows, cfg):
                        emit(s, d, k)
                events, ret_keys, member_keys = recover_types_for_method(
                    rows, classes)
                for nid, rtype in events:
                    emit(nid, 0, _TYPE_HINT, rtype)
                for nid, callee in ret_keys:
                    emit(nid, 0, _HINT_RET, key=callee)
                for nid, recv_type, field in member_keys:
                    emit(nid, 0, _HINT_MEMBER, recv_type, field)
                if with_dataflow and cfg:
                    krows = rows + _synth_param_outs(rows)
                    for s, d, v, callee in reaching_def_edges_for_method(
                            krows, cfg):
                        if callee is None:
                            emit(s, d, "REACHING_DEF", v)
                        else:
                            emit(s, d, _RD_UNLESS_INTERNAL, v, callee)

        buf: dict[int, list[dict]] = defaultdict(list)
        classes: dict[int, str] = {}
        cur_doc: str | None = None
        seen_docs: set[str] = set()
        for batch in batches:
            for r in batch.to_pylist():
                d = r["doc_id"]
                if d != cur_doc:
                    if cur_doc is not None:
                        process(buf, classes)
                        buf = defaultdict(list)
                        classes = {}
                        if len(out_rows) >= _YIELD_EVERY:
                            yield from pa.Table.from_pylist(
                                out_rows, schema=out_schema).to_batches()
                            out_rows = []
                    if d in seen_docs:
                        raise ValueError(
                            f"non-contiguous rows for doc {d!r}: fused kernel "
                            "requires the unshuffled parse output")
                    seen_docs.add(d)
                    cur_doc = d
                if r["kind"] == "TYPE_DECL":
                    classes[r["node_id"]] = r["full_name"]
                if r["method_id"] is not None:
                    buf[r["method_id"]].append(r)
        process(buf, classes)
        yield from pa.Table.from_pylist(out_rows, schema=out_schema).to_batches()

    return src.mapInArrow(run, schema=KERNEL_SCHEMA_DDL)


def kernel_edges(rows: DataFrame) -> DataFrame:
    """The kernel's unconditional edge rows."""
    return rows.filter(~F.col("kind").startswith("_")).drop("key")


def vetted_reaching_defs(rows: DataFrame,
                         internal_methods: DataFrame) -> DataFrame:
    """REACHING_DEF edges from the kernel's ``_RD_UNLESS_INTERNAL`` rows whose
    callee full_name names no internal METHOD (EdgeValidator's
    output-argument rule). ``internal_methods``: (full_name) rows."""
    internal = internal_methods.select(F.col("full_name").alias("key"))
    return (
        rows.filter(F.col("kind") == _RD_UNLESS_INTERNAL)
        .join(budgeted_broadcast(internal), "key", "left_anti")
        .select("src", "dst", F.lit("REACHING_DEF").alias("kind"),
                "variable", "doc_id", "method_id")
    )


def kernel_type_events(rows: DataFrame, method_returns: DataFrame,
                       members: DataFrame) -> DataFrame:
    """(node_id, recovered_type) type events from the kernel rows — the
    ``type_recovery_events`` event set, possibly with duplicate rows.

    ``method_returns``: (callee_full, ret_type); ``members``: (recv_type,
    f_name, member_type) — see ``type_recovery.collect_recovery_dicts``."""
    hints = rows.filter(F.col("kind") == _TYPE_HINT).select(
        F.col("src").alias("node_id"), F.col("variable").alias("recovered_type"))
    rets = (
        rows.filter(F.col("kind") == _HINT_RET)
        .select(F.col("src").alias("node_id"),
                F.col("key").alias("callee_full"))
        .join(budgeted_broadcast(method_returns), "callee_full")
        .select("node_id", F.col("ret_type").alias("recovered_type"))
    )
    loads = (
        rows.filter(F.col("kind") == _HINT_MEMBER)
        .select(F.col("src").alias("node_id"),
                F.col("variable").alias("recv_type"),
                F.col("key").alias("f_name"))
        .join(budgeted_broadcast(members), ["recv_type", "f_name"])
        .select("node_id", F.col("member_type").alias("recovered_type"))
    )
    return hints.unionByName(rets).unionByName(loads)
