"""Percentile rule, end-to-end metric computation and metric-name checks."""
import json
import math
import os
import statistics
from fractions import Fraction

HERE = os.path.dirname(os.path.abspath(__file__))
TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)


def load_benchmark(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def tail_percentile(n, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile that leaves at least `min_beyond`
    of `n` samples strictly beyond it, or None when even the median does
    not."""
    for p in sorted(candidates, reverse=True):
        if n - rank(p, n) >= min_beyond:
            return p
    return None


def rank(p, n):
    """1-based nearest rank of percentile p among n samples: ceil(p/100 * n),
    computed without binary floating-point error."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def counts(ops):
    """(attempted, failed): an op fails when it raised or its output check
    did not pass."""
    return len(ops), sum(1 for o in ops if o["ok"] is not True)


def end_to_end(record):
    """End-to-end metrics of the untraced window of a run, from the JVM's
    run record (ops already marked ok/failed)."""
    ops = [o for o in record["ops"] if o["window"] == 0]
    walls = [o["wall_s"] for o in ops]
    attempted, failed = counts(ops)
    busy = sum(walls)
    items = sum(o["items"] for o in ops)
    return {
        "setup_s": statistics.median(record["setup_s"]) + record["warmup_s"],
        "op_s_p50": statistics.median(walls),
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": record["peak_rss_mb"],
        "work_per_s": items / busy if busy > 0 else 0.0,
    }


def result_line(bench, kind, values, correct, attempted, failed):
    """The final stdout object: every metric of `kind` ("end_to_end" or
    "per_layer") named in BENCHMARK.json, with its unit; names the run
    produced that BENCHMARK.json does not list are an error."""
    declared = {m["name"]: m["unit"] for m in bench[kind]}
    extra = sorted(set(values) - set(declared))
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {extra}")
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in declared.items()}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}
