"""Summary statistics and metric assembly for the benchmark's result line."""
import json
import math
import os
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# a tail percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0-100) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def highest_supported_percentile(n, candidates=(99, 95, 90, 75)):
    """The highest candidate percentile with at least TAIL_SAMPLES of `n`
    samples beyond it, or None."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            return p
    return None


def end_to_end(phase, setup_s, peak_rss_mb, clients):
    """End-to-end figures of one untraced window.

    ops_per_s counts verified ops per second of client busy time, i.e. the
    benchmark's own verification pauses between ops are not billed.
    """
    ops = phase["ops"]
    ok_ms = [o["ms"] for o in ops if o["ok"]]
    busy_s = sum(o["ms"] for o in ops) / 1000.0 / clients
    if not ops or busy_s <= 0:
        raise ValueError("no op completed in the measured window")
    # with no verified op, latency falls back to every op (the run is
    # reported as incorrect anyway)
    lat = ok_ms or [o["ms"] for o in ops]
    return {
        "setup_s": (statistics.median(setup_s), "s", len(setup_s)),
        "ops_per_s": (len(ok_ms) / busy_s, "1/s", len(ok_ms)),
        "latency_p50_ms": (percentile(lat, 50), "ms", len(lat)),
        "peak_rss_mb": (peak_rss_mb, "MiB", 1),
    }


def declared(bench_json):
    with open(bench_json) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def check_names(metrics, decl):
    """Every emitted name is well-formed and declared, and every declared
    name is emitted, with the declared unit."""
    bad = [n for n in metrics if not NAME.match(n)]
    extra = sorted(set(metrics) - set(decl))
    missing = sorted(set(decl) - set(metrics))
    units = sorted(n for n in metrics if n in decl and metrics[n]["unit"] != decl[n])
    if bad or extra or missing or units:
        raise ValueError(f"metric names: malformed={bad} undeclared={extra} "
                         f"missing={missing} unit-mismatch={units}")


def bench_json_path():
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
