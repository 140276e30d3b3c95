#!/usr/bin/env python3
"""Compare two traced benchmark runs layer by layer.

    python3 perfbench/layer_diff.py BASE NEW

BASE and NEW are traced run artifacts (<workload>-s<seed>-t1.json, written
to .bench_build/artifacts/ by `run.py --trace 1`) or directories holding
them; directories are paired by workload. For each workload it prints the
self time per layer (span name), the per-layer metrics, and the Spark work
(jobs, stages, tasks, bytes) per layer, as the traced run summarised them
over its warm passes. When the untraced artifact of the same workload and
seed (-t0.json) sits beside a traced one, it also prints the tracing
overhead: traced minus untraced pass_s and lat_p50_ms.
"""
import json
import sys
from pathlib import Path


def load(path: Path) -> dict:
    return json.loads(path.read_text())


def traced(arg: str) -> dict:
    """workload -> path of its traced artifact."""
    p = Path(arg)
    files = sorted(p.glob("*-t1.json")) if p.is_dir() else [p]
    out = {}
    for f in files:
        a = load(f)
        if not a.get("traced"):
            sys.exit(f"{f}: not a traced artifact")
        out[a["workload"]] = f
    return out


def ratio(a, b) -> str:
    return f"{b / a:8.3f}x" if a else "        -"


def table(title: str, base: dict, new: dict) -> None:
    print(f"  {title}")
    for k in sorted(set(base) | set(new)):
        a, b = base.get(k, 0.0), new.get(k, 0.0)
        print(f"    {k:34s} {a:16.3f} {b:16.3f} {b - a:+16.3f} {ratio(a, b)}")


def overhead(traced_path: Path, art: dict) -> dict:
    untraced = traced_path.with_name(traced_path.name.replace("-t1.json", "-t0.json"))
    if not untraced.is_file():
        return {}
    u = load(untraced)
    return {k: art["e2e"][k]["value"] - u["e2e"][k]["value"]
            for k in ("pass_s", "lat_p50_ms") if k in art["e2e"] and k in u["e2e"]}


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = traced(sys.argv[1]), traced(sys.argv[2])
    common = sorted(set(base) & set(new))
    if not common:
        print("no workload traced in both runs", file=sys.stderr)
        return 1
    for w in common:
        a, b = load(base[w]), load(new[w])
        print(f"== {w}  (seed {a['seed']} -> {b['seed']})")
        print(f"    {'':34s} {'base':>16s} {'new':>16s} {'delta':>16s} {'ratio':>9s}")
        table("self time per layer, ms per warm pass", a["trace"]["self_ms"],
              b["trace"]["self_ms"])
        table("per-layer metrics", a["layers"], b["layers"])
        ca, cb = a["trace"]["work_per_layer"], b["trace"]["work_per_layer"]
        for layer in sorted(set(ca) | set(cb)):
            table(f"spark work under {layer}, per warm pass", ca.get(layer, {}), cb.get(layer, {}))
        oa, ob = overhead(base[w], a), overhead(new[w], b)
        if oa and ob:
            table("tracing overhead (traced - untraced)", oa, ob)
        for side, o in (("base", oa), ("new", ob)):
            if o and not (oa and ob):
                print(f"  tracing overhead, {side} run: " +
                      ", ".join(f"{k} {v:+.3f}" for k, v in sorted(o.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
