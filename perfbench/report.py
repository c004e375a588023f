"""Turns a run record into the result metrics and a readable summary."""
import json
from pathlib import Path

def metric_specs(spec_path, trace):
    """Metric names and units, from BENCHMARK.json at the repository root."""
    spec = json.loads(Path(spec_path).read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def metrics(rec, trace, spec):
    src = rec["per_layer"] if trace else rec["end_to_end"]
    return {name: {"value": float(src.get(name, 0.0)), "unit": unit}
            for name, unit in metric_specs(spec, trace)}


def print_summary(rec, metrics):
    walls = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    print(f"workload {rec['workload']}  seed {rec['seed']}  {rec['master']}  "
          f"nproc {rec['nproc']}  heap {rec['heap_max_mb']} MB  spark {rec['spark_version']}  "
          f"loadavg {rec['loadavg_start']:.2f}->{rec['loadavg_end']:.2f}  "
          f"cds {rec['cds']}  commit {rec.get('commit') or 'n/a'}  "
          f"source {rec['source_digest'][:12]}")
    print(f"passes (untraced) n={len(walls)}: " + " ".join(f"{w:.3f}" for w in walls))
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
