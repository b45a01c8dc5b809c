"""Turns passes, spans and event-log counters into the printed metrics.

Both workloads report the same metric names (BENCHMARK.json), so each
name is defined on both:

- a *step* is one crawl round (``crawl``) or one pipeline pass
  (``frontier``);
- a step splits into *plan* (``driver.run_round`` / building the
  pipeline DataFrame), *commit* (``storage.write_round`` / the action
  that executes it) and *rest* (the step's self time), so
  plan + commit + rest = step wall by construction;
- the frontier-layer numbers come from prefix-differenced spans over
  ``udfs.canonicalize_udf`` → ``frontier.eligible`` → ``frontier.dequeue``:
  on ``frontier`` over the timed input, on ``crawl`` over each round's
  committed frontier/seen snapshots.
"""

from __future__ import annotations

import statistics

import inputs
import spans as tr

END_TO_END = {  # name → unit
    "setup_s": "s",
    "urls_per_s": "rows/s",
    "step_p50_s": "s",
}

# Spark counters reported per step; spill_mb and failed_tasks read 0 on
# both workloads, so they are printed in the trace line only, with the
# step's rest (self) time (~2 ms on frontier) and the persisted-RDD delta
SPARK_COUNTERS = ("jobs", "tasks", "exec_run_s", "busy_frac", "shuffle_write_mb")
_UNITS = {"jobs": "count", "tasks": "count", "exec_run_s": "s", "busy_frac": "ratio",
          "shuffle_write_mb": "MB"}

PER_LAYER = {
    **{f"step.{c}": _UNITS[c] for c in SPARK_COUNTERS},
    "step.wall_s": "s",
    "step.plan_s": "s",
    "step.commit_s": "s",
    "trace.urls_per_s": "rows/s",
    "session.start_s": "s",
    "session.retained_mb": "MB",
    "udfs.canonicalize_s": "s",
    "frontier.eligible_s": "s",
    "frontier.eligible.shuffle_write_mb": "MB",
    "frontier.eligible.busy_frac": "ratio",
    "frontier.dequeue_s": "s",
    "frontier.dequeue.shuffle_write_mb": "MB",
    "frontier.dequeue.busy_frac": "ratio",
    "frontier.eligible.keep_ratio": "ratio",
}

PLAN = ("driver.run_round", "frontier.plan")
COMMIT = ("storage.write_round", "frontier.execute")


def _quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) < 2:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": len(xs)}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


def _throughputs(passes) -> list[float]:
    return [p.rows / p.wall for p in passes]


def _steps(passes) -> list[float]:
    return [s for p in passes for s in p.steps]


def end_to_end(setup_s: float, passes) -> dict:
    vals = {
        "setup_s": setup_s,
        "urls_per_s": statistics.median(_throughputs(passes)),
        "step_p50_s": statistics.median(_steps(passes)),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def summary(workload: str, spark_conf: dict, setup_s: float, passes, attempted: int,
            failed: int, wl) -> dict:
    """The end-to-end numbers under the names a reader knows them by."""
    steps = _steps(passes)
    out = {
        "workload": workload,
        "spark": spark_conf,
        "setup_s": setup_s,
        "fail_ratio": failed / attempted,
        "wall_s_per_pass": [p.wall for p in passes],
        "steal_share_per_pass": [p.steal_share for p in passes],
        "attempted": attempted,
        "failed": failed,
    }
    if workload == "crawl":
        out["crawl_urls_per_s"] = _quartiles(_throughputs(passes))
        out["round_p50_s"] = _quartiles(steps)
        out["results_per_round"] = [passes[0].out.manifest(r)["tables"]["results"]
                                    for r in range(wl.ROUNDS)]
        out["inputs"] = {"seeds": inputs.CRAWL_SEEDS, "capacity": wl.CAPACITY,
                         "rounds": wl.ROUNDS, "budget_boost": inputs.CRAWL_BUDGET_BOOST}
    else:
        out["frontier_urls_per_s"] = _quartiles(_throughputs(passes))
        out["pass_s"] = _quartiles(steps)
        props = dict(wl.inp["props"])
        n = props["rows"]
        out["inputs"] = {
            **props,
            "seen_overlap_share": props["seen_overlap"] / n,
            "hot_host_share": props["hot_rows"] / n,
            "noncanonical_share": props["noncanon_rows"] / n,
            "capacity": wl.CAPACITY,
            "dequeue_aggregate": list(passes[0].out),
        }
    return out


def _diff(spans, jobs_by_span, cores, a: int, b: int) -> dict:
    """Wall, executor time and shuffle of prefix span *b* minus prefix span *a*."""
    ca = tr.counters(spans, jobs_by_span, a, cores)
    cb = tr.counters(spans, jobs_by_span, b, cores)
    return {"s": tr.wall(spans[b]) - tr.wall(spans[a]),
            "run_s": cb["exec_run_s"] - ca["exec_run_s"],
            "shuffle_write_mb": cb["shuffle_write_mb"] - ca["shuffle_write_mb"]}


def traced(workload: str, cores: int, spans: list[dict], events: list[dict], passes,
           layer: dict, session: dict) -> tuple[dict, dict]:
    from workloads import round_spans

    if workload == "crawl":
        steps = [r for p in passes for r in round_spans(spans, p.span)]
    else:
        steps = [spans[p.span] for p in passes]
    jc = tr.JobCounters(events)
    jobs_by_span = jc.assign(spans)

    per_step = []
    for st in steps:
        kids = tr.children(spans, st["id"])
        c = tr.counters(spans, jobs_by_span, st["id"], cores)
        c["wall_s"] = tr.wall(st)
        c["plan_s"] = sum(tr.wall(k) for k in kids if k["name"] in PLAN)
        c["commit_s"] = sum(tr.wall(k) for k in kids if k["name"] in COMMIT)
        c["rest_s"] = tr.self_time(spans, st["id"])
        per_step.append(c)

    m = {f"step.{k}": statistics.mean(s[k] for s in per_step) for k in SPARK_COUNTERS}
    for k in ("wall_s", "plan_s", "commit_s"):
        m[f"step.{k}"] = statistics.median(s[k] for s in per_step)
    m["trace.urls_per_s"] = statistics.median(_throughputs(passes))
    m.update(session)

    rounds = layer["per_round"]
    elig = [_diff(spans, jobs_by_span, cores, r["spans"]["udfs.canonicalize"],
                  r["spans"]["frontier.eligible"]) for r in rounds]
    deq = [_diff(spans, jobs_by_span, cores, r["spans"]["frontier.eligible"],
                 r["spans"]["frontier.dequeue"]) for r in rounds]
    m["udfs.canonicalize_s"] = sum(tr.wall(spans[r["spans"]["udfs.canonicalize"]]) for r in rounds)
    for name, parts in (("frontier.eligible", elig), ("frontier.dequeue", deq)):
        w = sum(p["s"] for p in parts)
        m[f"{name}_s"] = w
        m[f"{name}.shuffle_write_mb"] = sum(p["shuffle_write_mb"] for p in parts)
        m[f"{name}.busy_frac"] = sum(p["run_s"] for p in parts) / (w * cores) if w > 0 else 0.0
    m["frontier.eligible.keep_ratio"] = (sum(r["eligible"] for r in rounds)
                                         / sum(r["rows_in"] for r in rounds))

    detail = {"workload": workload, "session": session, "per_step": per_step,
              "frontier_layer": [{k: v for k, v in r.items() if k != "spans"} for r in rounds]}
    if workload == "crawl":
        detail.update(_crawl_detail(spans, jobs_by_span, steps, per_step, passes))
    detail["spans"] = [
        {**s, "wall": tr.wall(s), "self": tr.self_time(spans, s["id"]),
         **tr.counters(spans, jobs_by_span, s["id"], cores)}
        for s in spans
    ]
    metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
    return detail, metrics


def _crawl_detail(spans, jobs_by_span, steps, per_step, passes) -> dict:
    """driver/storage attribution per round, under the layer names."""
    table_s: dict[str, float] = {}
    for st in steps:
        for k in tr.children(spans, st["id"]):
            if k["name"] == "storage.write_round":
                for j in jobs_by_span.get(k["id"], []):
                    t = j["table"] or "(shared)"
                    table_s[t] = table_s.get(t, 0.0) + j["exec_run_s"]
    return {
        "driver.run_round.plan_s": [s["plan_s"] for s in per_step],
        "storage.write_round_s": [s["commit_s"] for s in per_step],
        "driver.round_rest_s": [s["rest_s"] for s in per_step],
        "jobs_per_round": [s["jobs"] for s in per_step],
        "busy_frac_per_round": [s["busy_frac"] for s in per_step],
        "storage.table_exec_s": table_s,
        # run_crawl's work before its first round (resume: snapshot reads,
        # budget scalar); with the rounds it tiles the whole crawl wall
        "driver.run_crawl.pre_round_s": [tr.self_time(spans, p.span) for p in passes],
    }
