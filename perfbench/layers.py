"""Per-layer metrics and the self-time report of a traced run.

Spans come from `perfbench.Main` (kind: workload, pass, op, build /
materialize / free / mr, job, stage). Times are epoch milliseconds. Every
figure is per traced pass unless its name says otherwise.
"""
import statistics


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _dur(s):
    return s["end"] - s["start"]


def _self(span, children):
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children]
    return _dur(span) - _union([iv for iv in clipped if iv[1] > iv[0]])


def per_layer(res, spans):
    """Returns ({metric: (value, unit)}, report text)."""
    spans = [s for s in spans if s["end"] is not None]   # drop unfinished spans
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    traced = [p for p in res["passes"] if p["traced"]]
    n = len(traced)
    cores = res["cores"]

    ops, phases, jobs, stages = [], [], [], []
    for p in traced:
        for op in kids.get(p["span"], []):
            ops.append(op)
            for ph in kids.get(op["id"], []):
                phases.append(ph)
                for j in kids.get(ph["id"], []):
                    jobs.append((op, j))
                    stages += [(op, st) for st in kids.get(j["id"], [])]

    def st_sum(key):
        return sum(st.get(key, 0.0) for _, st in stages)

    is_mr = lambda op: op["name"].startswith("mr_")  # noqa: E731
    mr_map = [st for op, st in stages if is_mr(op)
              and st.get("shuffle_write_bytes", 0) > 0 and st.get("shuffle_read_bytes", 0) == 0]
    mr_red = [st for op, st in stages if is_mr(op) and st.get("shuffle_read_bytes", 0) > 0]
    skews = [st["task_max_ms"] / max(st["task_median_ms"], 1) for st in mr_map
             if "task_max_ms" in st]
    commit = [ph["end"] - max(j["end"] for j in kids[ph["id"]])
              for ph in phases if ph["name"] == "mr_wc_dir" and kids.get(ph["id"])]
    gap = sum(_dur(op) - _union([(max(j["start"], op["start"]), min(j["end"], op["end"]))
                                 for o, j in jobs if o is op]) for op in ops)
    pass_wall = sum(p["wall_s"] for p in traced)
    task_s = st_sum("run_ms") / 1e3
    rows_out = sum(o.get("rows", 0) for o in res["ops"] if o["check"] and o["pass"] == 0)
    in_rows = st_sum("input_records") / n
    traced_ids = {p["pass"] for p in traced}
    timed_ops = [o for o in res["ops"] if o["pass"] in traced_ids]
    storage = [o.get("storage_mb", 0.0) for o in res["ops"] if o["pass"] > 0]
    t_pass = statistics.median(p["wall_s"] for p in traced)
    u_pass = statistics.median(p["wall_s"] for p in res["passes"] if not p["traced"])
    phase_s = lambda k: sum(_dur(ph) for ph in phases if ph["kind"] == k) / 1e3 / n  # noqa: E731

    m = {
        "session.start_s": (res["session_start_s"], "s"),
        "session.warmup_s": (res["warmup_s"], "s"),
        "mr.map_stage_s": (sum(map(_dur, mr_map)) / 1e3 / n, "s"),
        "mr.reduce_stage_s": (sum(map(_dur, mr_red)) / 1e3 / n, "s"),
        "mr.map_task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "mr.shuffle_records": (sum(st.get("shuffle_write_records", 0) for st in mr_map) / n, "count"),
        "mr.commit_s": (sum(commit) / 1e3 / n, "s"),
        "queries.build_s": (phase_s("build"), "s"),
        "queries.materialize_s": (phase_s("materialize"), "s"),
        "queries.free_s": (phase_s("free"), "s"),
        "scheduler.jobs": (len(jobs) / n, "count"),
        "scheduler.stages": (len(stages) / n, "count"),
        "scheduler.tasks": (st_sum("tasks") / n, "count"),
        "scheduler.driver_gap_s": (gap / 1e3 / n, "s"),
        "scheduler.slot_use": (task_s / (pass_wall * cores), "ratio"),
        "shuffle.write_mb": (st_sum("shuffle_write_bytes") / 1e6 / n, "MB"),
        "shuffle.read_mb": (st_sum("shuffle_read_bytes") / 1e6 / n, "MB"),
        "shuffle.fetch_wait_s": (st_sum("fetch_wait_ms") / 1e3 / n, "s"),
        "shuffle.spill_mb": (st_sum("spill_bytes") / 1e6 / n, "MB"),
        "executor.cpu_s": (st_sum("cpu_ms") / 1e3 / n, "s"),
        "executor.run_s": (task_s / n, "s"),
        "executor.gc_s": (st_sum("gc_ms") / 1e3 / n, "s"),
        "scan.input_mb": (st_sum("input_bytes") / 1e6 / n, "MB"),
        "scan.input_rows": (in_rows, "count"),
        "scan.rows_per_result_row": (in_rows / rows_out if rows_out else 0.0, "ratio"),
        "pins.created": (sum(o.get("pins_created", 0) for o in timed_ops) / n, "count"),
        "pins.peak_mb": (max(storage) if storage else 0.0, "MB"),
        "pins.leaked": (sum(o.get("pins_leaked", 0) for o in timed_ops) / n, "count"),
        "pins.end_mb": (res["pinned_mb_end"], "MB"),
        "jvm.heap_live_mb": (res["heap_live_mb"], "MB"),
        "durable.write_mb": (res["durable_bytes"] / 1e6, "MB"),
        "durable.files": (res["durable_files"], "count"),
        "durable.versions": (res["durable_versions"], "count"),
        "trace.pass_s": (t_pass, "s"),
        "trace.overhead_pct": (100.0 * (t_pass - u_pass) / u_pass, "%"),
    }

    # Self time per span kind: its duration minus what its children cover
    # (a stage's children are tasks, which are not spans: its self time is
    # its wall time).
    traced_spans = {p["span"] for p in traced}
    groups = [("pass", [s for s in spans if s["id"] in traced_spans]), ("op", ops)]
    groups += [(k, [ph for ph in phases if ph["kind"] == k])
               for k in ("build", "materialize", "free", "mr")]
    groups += [("job", [j for _, j in jobs]), ("stage", [st for _, st in stages])]
    lines = [f"per-layer report: {res['workload']}, {n} traced pass(es) of "
             f"{len(res['passes'])}, {cores} cores; per traced pass",
             f"  {'layer (span kind)':<22}{'count':>9}{'total s':>10}{'self s':>10}"]
    for kind, ss in groups:
        if ss:
            tot = sum(map(_dur, ss)) / 1e3 / n
            self_s = sum(_self(s, kids.get(s["id"], [])) for s in ss) / 1e3 / n
            lines.append(f"  {kind:<22}{len(ss) / n:>9.1f}{tot:>10.3f}{self_s:>10.3f}")
    lines += [
        f"  slot use = task time {task_s / n:.3f} s / (pass wall {pass_wall / n:.3f} s x "
        f"{cores} cores) = {m['scheduler.slot_use'][0]:.3f}",
        f"  scan rows per result row = {in_rows:.0f} input rows / {rows_out} result rows",
        f"  tracing overhead = traced pass {t_pass:.3f} s vs untraced {u_pass:.3f} s "
        f"= {m['trace.overhead_pct'][0]:+.1f}%",
    ]
    return m, "\n".join(lines)

