"""Metric helpers of the benchmark: percentiles, the tail rule, the
end-to-end and per-layer metrics computed from a run's results file, and
the host-load probe. Pure functions except the probe."""
import math
import os
import re
import statistics
import time

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# percentiles the tail rule chooses from, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def _rank(pct, n):
    """1-based nearest rank of percentile `pct` among `n` samples."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values, pct):
    """The nearest-rank percentile: the smallest sample with at least
    `pct` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(pct, len(xs)) - 1]


def tail(values):
    """The highest percentile of TAIL_LADDER with at least TAIL_BEYOND
    samples beyond it, as (value, percentile, n). With fewer than
    2 * TAIL_BEYOND samples no percentile qualifies and the median is
    reported, with percentile 50."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= TAIL_BEYOND:
            return nearest_rank(values, pct), pct, n
    return nearest_rank(values, 50.0), 50.0, n


def median(values):
    return statistics.median(values)


def kind_p50(ops, kind):
    """Median over the names of `kind` ops of each name's median latency.
    Each batch, query or verb weighs the same however often it ran, so
    the figure does not move with how many of each a window holds."""
    by_name = {}
    for o in ops:
        if o["kind"] == kind:
            by_name.setdefault(o["name"], []).append(o["s"])
    return median([median(v) for v in by_name.values()])


def window_metrics(window):
    """Per-name median latency of the window's write ops and of its read
    ops (see kind_p50), and ops completed per second of the window."""
    out = {"ops_per_s": len(window["ops"]) / window["window_s"],
           "n": len(window["ops"])}
    for kind in ("write", "read"):
        out[f"{kind}_p50_s"] = kind_p50(window["ops"], kind)
    return out


def name_p50(window, name):
    """Median latency of the window's ops with this name."""
    return median([o["s"] for o in window["ops"] if o["name"] == name])


def self_times(spans):
    """Self time per span: duration minus the time its children cover.
    Spans of one parent never overlap (one client thread)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_s"] - s["start_s"])
    return {s["id"]: (s["end_s"] - s["start_s"]) - child.get(s["id"], 0.0)
            for s in spans}


SPARK_SUMS = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes", "spark.executor_run_s": "executor_run_s",
    "spark.gc_s": "gc_s", "spark.output_bytes": "output_bytes",
    "spark.sql_actions": "sql_actions", "spark.catalyst_s": "catalyst_s",
}


def layer_metrics(result, layer_names):
    """Per-layer metrics of a traced run, per timed op of the traced
    window: self seconds per span name (`<name>.s`), Spark counters over
    all spans, and the counts the workload read from reports and disk.
    Names in `layer_names` the run has no data for read 0."""
    tw = result["traced_window"]
    n_ops = max(1, len(tw["ops"]))
    spans = result["spans"]
    st = self_times(spans)
    out = {name: 0.0 for name in layer_names}
    for s in spans:
        key = s["name"] + ".s"
        if s["name"] == "spark.plan":
            key = "spark.plan_s"
        elif s["name"] == "registry.build":
            key = "registry.build_s"
        out[key] = out.get(key, 0.0) + st[s["id"]] / n_ops
    for metric, field in SPARK_SUMS.items():
        out[metric] = sum(s[field] for s in spans) / n_ops
    out["spark.busy_share"] = (sum(s["executor_run_s"] for s in spans)
                               / (tw["window_s"] * result["cores"]))
    for k, v in result.get("counts", {}).items():
        out[k] = float(v)
    untraced = window_metrics(result["window"])["read_p50_s"]
    traced = window_metrics(tw)["read_p50_s"]
    out["trace.untraced_read_p50_s"] = untraced
    out["trace.traced_read_p50_s"] = traced
    out["trace.overhead_share"] = traced / untraced - 1.0
    return out


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def _cell_eq(a, b, pd):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def frame_diff(got, want, pd):
    """Why two result frames differ, or None when they are equal:
    same columns, same row count, equal cells after sorting columns by
    name and rows by their text, floats compared exactly."""
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _cell_eq(a, b, pd):
                return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def spin(n=2_000_000):
    """Seconds a fixed amount of pure-Python work takes on one core."""
    t0 = time.perf_counter()
    x = 0x9E3779B9
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def timed_read(path, size=8 << 20):
    """Seconds to write (once) and read back `size` bytes at `path`."""
    if not os.path.exists(path) or os.path.getsize(path) != size:
        with open(path, "wb") as f:
            f.write(os.urandom(size))
    t0 = time.perf_counter()
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    return time.perf_counter() - t0


def host_probe(path):
    """The host-load probe recorded before and after each run. It is
    recorded only; no metric is adjusted by it."""
    return {"spin_s": spin(), "read_s": timed_read(path),
            "loadavg_1m": os.getloadavg()[0]}
