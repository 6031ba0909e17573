"""Per-layer metrics of a traced run, derived from its spans.

The metric names and units are those ``BENCHMARK.json`` lists under
``per_layer``.  Every workload reports every metric; a layer the
workload never calls reads 0 (the prediction for that workload is "no
change").
"""

from __future__ import annotations

import json
import os

from gridbench.trace import Span, layer_totals, subtree

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric."""
    with open(BENCHMARK_JSON) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def span_metrics(spans: list[Span], n_ops: int, raw_bytes_per_op: float,
                 result_rows: dict[str, list[int]]) -> dict[str, float]:
    """Self seconds and Spark jobs per traced op, per layer, plus the
    ratios counted at layer boundaries."""
    per_op = max(n_ops, 1)
    totals = layer_totals(spans)
    out: dict[str, float] = {}
    for metric, _ in per_layer():
        layer, _, counter = metric.rpartition(".")
        if counter in ("self_s", "spark_jobs"):
            out[metric] = totals.get(layer, {}).get(counter, 0) / per_op
    updates = [s for s in spans if s.name in ("op.append", "op.insert")]
    if updates:
        out["sinks.table.read.calls_per_update"] = sum(
            s.name == "sinks.table.read" for u in updates for s in subtree(spans, u)
        ) / len(updates)
    # stage input bytes of the program's own jobs inside an archive
    # ingest's run_etl, over the raw bytes it was given: how many times
    # the raw files are read
    ingests = {s.id for s in spans if s.name == "op.ingest"}
    etl_roots = [s for s in spans if s.name == "manager.run_etl" and s.parent in ingests]
    if etl_roots and raw_bytes_per_op:
        read = sum(s.input_bytes for r in etl_roots for s in subtree(spans, r))
        out["sources.raw_bytes_read_per_raw_byte"] = read / (raw_bytes_per_op * len(etl_roots))
        out["trace.run_etl.wall_s"] = sum(r.end - r.start for r in etl_roots) / len(etl_roots)
    for kind, rows in result_rows.items():
        ops = [s for s in spans if s.name == f"op.{kind}"]
        ratios = [
            sum(s.input_records for s in subtree(spans, op)) / max(n, 1)
            for op, n in zip(ops, rows)
        ]
        if ratios:
            out[f"query.rows_scanned_per_row_returned.{kind}"] = sum(ratios) / len(ratios)
    return out


def complete(values: dict[str, float]) -> dict[str, dict[str, float | str]]:
    """Every per-layer metric, in the result's format."""
    metrics = per_layer()
    unknown = set(values) - {name for name, _ in metrics}
    if unknown:
        raise KeyError(f"not in BENCHMARK.json per_layer: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in metrics
    }
