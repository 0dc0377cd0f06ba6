"""Arithmetic that turns a run's raw samples into the benchmark's metrics.

Kept apart from run.py so that perfbench/test_stats.py can check it and
compare.py can reuse it.
"""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def driver_gap_ms(start, end, jobs):
    """Wall time of [start, end] not covered by any job interval."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in jobs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def end_to_end(raw):
    lat = raw.get("latency_ms", [])
    tp = raw.get("throughput", {})
    return {
        # not an end-to-end metric (too unsteady across runs to carry a
        # bound); kept for the traced run and the tracing overhead
        "latency_p50_ms": median(lat),
        "throughput_per_s": tp["units"] / tp["seconds"] if tp.get("seconds") else 0.0,
        "wall_s": median(raw.get("wall_s", [])),
        "setup_s": median(raw.get("setup_s", [])),
    }


def per_layer(raw):
    out = dict(raw.get("layers", {}))
    reqs = raw.get("requests", [])
    serve = [r for r in reqs if r["layer"] == "serve"]
    if serve:
        def med(key):
            return median([r[key] for r in serve if r.get(key) is not None])
        out["serve.plan_ms"] = med("plan_ms")
        out["serve.exec_ms"] = med("exec_ms")
        out["serve.driver_gap_ms"] = median(
            [driver_gap_ms(r["start_ms"], r["end_ms"], r.get("jobs", [])) for r in serve])
        out["serve.jobs_per_req"] = statistics.fmean(len(r.get("jobs", [])) for r in serve)
        out["serve.tasks_per_req"] = statistics.fmean(r.get("tasks", 0) for r in serve)
        out["scan.files_per_req"] = statistics.fmean(r.get("files", 0) for r in serve)
        out["scan.bytes_per_req"] = statistics.fmean(r.get("bytes", 0) for r in serve)
        for ep in {r["endpoint"] for r in serve}:
            out[f"serve.{ep}.p50_ms"] = median([r["ms"] for r in serve if r["endpoint"] == ep])
    heavy = [r for r in reqs if r["layer"] == "heavy"]
    if heavy:
        rounds = max(1, len(raw.get("wall_s", [])))
        out["heavy.driver_gap_s"] = sum(
            driver_gap_ms(r["start_ms"], r["end_ms"], r.get("jobs", [])) for r in heavy) / 1000 / rounds
    e2e = end_to_end(raw)
    for k in ("latency_p50_ms", "wall_s", "throughput_per_s"):
        out[f"traced.{k}"] = e2e[k]
    return out


def metrics(raw, names):
    """Every metric in `names`; a layer the workload never ran reads 0."""
    got = per_layer(raw) if raw["trace"] else end_to_end(raw)
    return {n: float(got.get(n, 0.0)) for n in names}
