"""Per-layer summary of benchmark records.

    python3 perfbench/summarize.py [--json OUT] [RECORD.json ...]

Reads the records ``run.py`` wrote (default: every file in
``.perfbench_work/records/``), groups them by workload and host
fingerprint, and prints for each group:

- every end-to-end metric: its median with tracing off and on, and their
  difference, which is the tracing overhead;
- every per-layer metric of the traced runs (median over runs) with the
  end-to-end metric and workload it should move;
- each layer's self time per operation (median over traced runs of the
  per-operation mean).

Records from hosts with different fingerprints are never pooled.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

from run import END_TO_END, LATENCY, PER_LAYER, WORK


def host_key(record: dict) -> str:
    h = record["host"]
    return (f"nproc={h['nproc']} mem={h['memory_mb'].get('MemTotal')}MB "
            f"spark={h['spark']} python={h['python']} pyarrow={h['pyarrow']}")


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def layer_self_time(record: dict) -> dict[str, float]:
    """Mean self ms per operation of each layer in one traced record."""
    per_op = record.get("layer_self_ms") or {}
    layers = {layer for op in per_op.values() for layer in op}
    n = max(len(per_op), 1)
    return {layer: sum(op.get(layer, 0.0) for op in per_op.values()) / n for layer in layers}


def summarize(records: list[dict]) -> dict:
    groups: dict[tuple[str, str], list[dict]] = {}
    for r in records:
        if r.get("correct"):
            groups.setdefault((r["workload"], host_key(r)), []).append(r)
    out = {}
    for (workload, host), rs in sorted(groups.items()):
        plain = [r for r in rs if not r["trace"]]
        traced = [r for r in rs if r["trace"]]
        e2e = {}
        for name, (unit, better) in (END_TO_END | LATENCY).items():
            off = _median(r["end_to_end"].get(name) for r in plain)
            on = _median(r["end_to_end"].get(name) for r in traced)
            e2e[name] = {
                "unit": unit, "better": better, "untraced": off, "traced": on,
                "tracing_overhead": on - off if off is not None and on is not None else None,
            }
        layer = {
            name: {"unit": unit, "value": _median(r["per_layer"].get(name) for r in traced),
                   "moves": moves}
            for name, (unit, _better, moves) in PER_LAYER.items()
        }
        selfs = [layer_self_time(r) for r in traced]
        names = sorted({k for s in selfs for k in s})
        out[f"{workload} | {host}"] = {
            "workload": workload,
            "host": host,
            "runs": {"untraced": len(plain), "traced": len(traced)},
            "seeds": sorted({r["seed"] for r in rs}),
            "end_to_end": e2e,
            "workload_metrics": {
                k: _median(r["workload_metrics"].get(k) for r in plain)
                for k in (plain[0]["workload_metrics"] if plain else {})
            },
            "per_layer": layer,
            "self_ms_per_op": {k: _median(s.get(k, 0.0) for s in selfs) for k in names},
        }
    return out


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4f}"


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="Summarize perfbench records.")
    ap.add_argument("records", nargs="*", help="record files (default: all)")
    ap.add_argument("--json", help="also write the summary as JSON to this file")
    args = ap.parse_args(argv)
    paths = args.records or sorted(glob.glob(os.path.join(WORK, "records", "*.json")))
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    summary = summarize(records)
    for key, s in summary.items():
        print(f"== {s['workload']}  [{s['host']}]  runs: {s['runs']['untraced']} untraced, "
              f"{s['runs']['traced']} traced")
        print(f"  {'end-to-end metric':<36}{'untraced':>12}{'traced':>12}{'overhead':>12}  unit")
        for name, m in s["end_to_end"].items():
            print(f"  {name:<36}{_fmt(m['untraced']):>12}{_fmt(m['traced']):>12}"
                  f"{_fmt(m['tracing_overhead']):>12}  {m['unit']}")
        for name, v in s["workload_metrics"].items():
            print(f"  {name:<36}{_fmt(v):>12}")
        if s["runs"]["traced"]:
            print(f"  {'per-layer metric':<40}{'median':>16}  {'unit':<10} should move")
            for name, m in s["per_layer"].items():
                print(f"  {name:<40}{_fmt(m['value']):>16}  {m['unit']:<10} {m['moves']}")
            print("  self ms per operation: " + ", ".join(
                f"{k}={v:.1f}" for k, v in s["self_ms_per_op"].items()))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
