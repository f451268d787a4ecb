"""End-to-end metrics of one run, computed from the harness's result.json."""

# metric -> unit; every workload reports every one of these
UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def latencies(iters):
    """Per-request latencies: an iteration's own requests when it served
    several (one query-mix pass), else the iteration itself."""
    return [v for x in iters for v in (x.get("latencies") or [x["wall_s"]])]


def end_to_end(res):
    """Throughput over the whole timed window; median latency over the
    timed requests (a request is one month or one query)."""
    it = res["iterations"]
    if not it:
        raise ValueError("no timed iterations")
    walls = [x["wall_s"] for x in it]
    lat = latencies(it)
    return {
        "setup_s": res["setup_s"],
        "throughput_per_s": sum(x["units"] for x in it) / sum(walls),
        "latency_p50_s": median(lat),
    }
