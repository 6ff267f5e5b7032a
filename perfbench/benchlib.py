"""Inputs, statistics and correctness checks of the benchmark.

Everything here is pure Python and deterministic, so the unit tests can
check it without building or starting the engine.
"""
import datetime
import math
import os
import random
import subprocess

# Workload query lists. dashboard is the reference's analytics surface;
# heavy_batch keeps two of the five convergent loops and one
# shuffle-heavy aggregate, what one pass fits in the time budget.
QUERIES = {
    "dashboard": [
        "q1_dashboard", "q2_trend_signals", "q3_whales", "q4_health",
        "q5_volatility", "q6_momentum", "q7_latency_spikes", "q8_sentiment",
        "q9_overview", "q10_drilldown", "q10_tickers", "stock_analysis",
    ],
    "heavy_batch": ["sim_kcore", "dedup_clusters", "rel_price_deciles"],
}
WORKLOADS = ["dashboard", "heavy_batch", "stream"]

# Stream sizing: the backlog drained first, the live rate after it, and
# the simulated clock. 50 ms of event time per event makes the 1-minute
# windows close and the 2-minute watermark evict state within a run.
STREAM = {
    "backlog": 40000,
    "catch_up_rounds": 3,
    "rate": 2000,
    "ramp_s": 2,  # live seconds before the measured ones
    "step_ms": 50,
    "max_disorder_ms": 20000,  # well inside the 2-minute watermark
    "watermark_ms": 120000,
}

TICKERS = ["ACME", "BOLT", "CRUX", "DYNA", "EVON", "FLUX",
           "GRID", "HALO", "IONX", "JOLT", "KITE", "LUMA"]

TAIL_CANDIDATES = (99.99, 99.9, 99.0, 90.0)


def nproc():
    """Core count as an int, from `nproc` (OMP_* limits ignored)."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("OMP_NUM_THREADS", "OMP_THREAD_LIMIT")}
    try:
        out = subprocess.run(["nproc"], capture_output=True, text=True,
                             env=env, check=True).stdout
        n = int(out.strip())
    except (OSError, ValueError, subprocess.CalledProcessError):
        n = os.cpu_count() or 1
    if n < 1:
        raise ValueError(f"nproc gave {n}")
    return n


def data_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR (as for graft.Bench), else the
    project's test data directory, ~/testdata/sf0.1."""
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def query_orders(workload, seed, passes):
    """One seeded permutation of the workload's queries per pass."""
    rng = random.Random(f"{workload}:{seed}")
    orders = []
    for _ in range(passes):
        names = list(QUERIES[workload])
        rng.shuffle(names)
        orders.append(names)
    return orders


def _wire(event_id, ts, user_id, ticker, price, volume):
    # the reference's JSON wire format, one tick; `ts` is already text
    return (f'{{"event_id":{event_id},"ts":"{ts}","user_id":{user_id},'
            f'"event_type":"{ticker}","value":{price!r},'
            f'"props":"{{\\"k\\": {volume}}}"}}')


def _ts_text(ts_ms, cache):
    sec = ts_ms // 1000
    text = cache.get(sec)
    if text is None:
        text = cache[sec] = datetime.datetime.fromtimestamp(
            sec, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.")
    return f"{text}{ts_ms % 1000:03d}000"


def stream_events(seed, count):
    """`count` seeded ticks as (ticker, wire JSON), and the event time of
    each tick (ms since the epoch; see `watermark`).

    Each tick's ticker is drawn by the seed from a fixed set with
    Zipf-skewed frequencies. The set and its frequency ranks do not depend
    on the seed: which tickers share a broker or shuffle partition (and so
    the load skew) is then the same for every seed. Event time runs on a
    simulated clock, `step_ms` per event, minus a seeded disorder of at
    most `max_disorder_ms`, so offsets arrive out of event-time order but
    never behind the watermark and no row is dropped as late.
    """
    rng = random.Random(f"stream:{seed}")
    tickers = TICKERS
    n_tick = len(tickers)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(n_tick)]
    prices = {t: rng.uniform(20, 400) for t in tickers}
    base_ms = (1704067200 + rng.randrange(0, 86400 * 300)) * 1000
    ts_all = [base_ms + i * STREAM["step_ms"] - rng.randrange(STREAM["max_disorder_ms"])
              for i in range(count)]
    # keep the final watermark off a minute boundary, so which windows it
    # closes does not depend on whether the close test is < or <=
    top = max(range(count), key=ts_all.__getitem__)
    if (ts_all[top] - STREAM["watermark_ms"]) % 60000 == 0:
        ts_all[top] += 1
    events = []
    cache = {}
    for i, t in enumerate(rng.choices(tickers, weights, k=count)):
        prices[t] = max(1.0, prices[t] * math.exp(rng.gauss(0, 0.002)))
        events.append((t, _wire(i + 1, _ts_text(ts_all[i], cache),
                                rng.randrange(1, 10**6), t, round(prices[t], 2),
                                rng.randrange(1, 5000))))
    return events, ts_all


def watermark(ts_ms, n):
    """The watermark the stream reaches once it has read the first `n`
    ticks: their latest event time minus the watermark delay (ms)."""
    return max(ts_ms[:n]) - STREAM["watermark_ms"]


def percentile(values, pct):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values):
    """The highest of the standard percentiles with at least ten samples
    beyond it, as (pct, value). When the sample is too small for any of
    them, the maximum stands in and pct is 100."""
    n = len(values)
    for pct in TAIL_CANDIDATES:
        if n - max(1, math.ceil(pct / 100.0 * n)) >= 10:
            return pct, percentile(values, pct)
    return 100.0, max(values)


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once).
    Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


LAYERS = ("sources", "operators", "plans", "materialize", "streaming")


def layer_self_times(spans):
    """Self time summed per layer; a span belongs to the layer its name
    starts with, and the harness's own spans (workload, operation) to
    none."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += st[s["id"]]
    return out


def fingerprint_mismatch(golden, name, fp):
    """None when `fp` equals the golden fingerprint of query `name`, else
    a one-line reason."""
    want = golden.get(name)
    if want is None:
        return f"{name}: no golden fingerprint"
    if fp.get("rows") != want["rows"]:
        return f"{name}: rows {fp.get('rows')} != golden {want['rows']}"
    got = fp.get("cols", {})
    if sorted(got) != sorted(want["cols"]):
        return f"{name}: columns {sorted(got)} != golden {sorted(want['cols'])}"
    bad = [c for c in sorted(got) if got[c] != want["cols"][c]]
    if bad:
        return f"{name}: column hashes differ: {','.join(bad)}"
    return None
