"""Pure helpers behind the benchmark's metrics: percentiles, interval
unions, span self time and the reduction of one run's raw records (written
by perfbench.Main) into end-to-end and per-layer metrics."""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    q of the samples at or below it (q in (0, 1])."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < q <= 1:
        raise ValueError("q must be in (0, 1]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def merge_intervals(intervals):
    """Sorted, disjoint intervals covering the same points as the input."""
    merged = []
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [tuple(i) for i in merged]


def union_length(intervals):
    return sum(e - s for s, e in merge_intervals(intervals))


def overlap(intervals):
    """Sum of the intervals' lengths over the length of their union: 1.0
    when nothing overlaps, k when k intervals always run together."""
    union = union_length(intervals)
    total = sum(e - s for s, e in intervals if e > s)
    return total / union if union > 0 else 1.0


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def _ms(record, key):
    return record[key] / 1000.0


def spans(passed, trace):
    """The traced pass as nested spans: run > op > construct/sink > job >
    stage, each with its self time. Times are epoch seconds."""
    out = []
    jobs = {j["job"]: j for j in trace["jobs"]}
    stages_by_job = {}
    for st in trace["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    run_id = "run"
    op_ranges = [(o["start_s"], o["end_s"]) for o in passed["ops"]]
    out.append({"id": run_id, "parent": None, "layer": "run", "name": "pass",
                "start": passed["start_s"], "end": passed["end_s"],
                "self_s": self_time((passed["start_s"], passed["end_s"]),
                                    op_ranges)})
    for i, op in enumerate(passed["ops"]):
        op_id = f"op{i}"
        phases = [("construct", op["start_s"], op["constructed_s"]),
                  ("sink", op["constructed_s"], op["end_s"])]
        phases = [p for p in phases if p[2] > p[1]]
        out.append({"id": op_id, "parent": run_id, "layer": "op",
                    "name": op["name"], "start": op["start_s"],
                    "end": op["end_s"],
                    "self_s": self_time((op["start_s"], op["end_s"]),
                                        [(s, e) for _, s, e in phases])})
        for phase, start, end in phases:
            phase_id = f"{op_id}.{phase}"
            mine = [j for j in jobs.values()
                    if j["op"] == op["name"] and j["phase"] == phase]
            out.append({"id": phase_id, "parent": op_id, "layer": phase,
                        "name": op["name"], "start": start, "end": end,
                        "self_s": self_time((start, end), [
                            (_ms(j, "start_ms"), _ms(j, "end_ms"))
                            for j in mine])})
            for j in mine:
                job_id = f"job{j['job']}"
                js, je = _ms(j, "start_ms"), _ms(j, "end_ms")
                sts = stages_by_job.get(j["job"], [])
                out.append({"id": job_id, "parent": phase_id, "layer": "job",
                            "name": str(j["job"]), "start": js, "end": je,
                            "self_s": self_time((js, je), [
                                (_ms(s, "start_ms"), _ms(s, "end_ms"))
                                for s in sts])})
                for s in sts:
                    ss, se = _ms(s, "start_ms"), _ms(s, "end_ms")
                    out.append({"id": f"stage{s['stage']}", "parent": job_id,
                                "layer": "stage", "name": str(s["stage"]),
                                "start": ss, "end": se, "self_s": se - ss})
    return out


def op_times(result):
    """Every op's time in the run's untraced passes."""
    return [o["end_s"] - o["start_s"] for p in result["passes"]
            if not p["traced"] for o in p["ops"]]


def end_to_end(result):
    """End-to-end metrics of a run from its untraced passes."""
    passes = [p for p in result["passes"] if not p["traced"]]
    times = op_times(result)
    return {
        "setup_s": (result["setup"]["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "op_geomean_s": (statistics.geometric_mean(times), "s"),
        "alloc_mb": (statistics.median(p["heap"]["alloc_mb"] for p in passes), "MB"),
        "live_mb": (statistics.median(p["heap"]["live_mb"] for p in passes), "MB"),
    }


def per_layer(result):
    """Per-layer metrics of a traced run (see BENCHMARK.md's glossary)."""
    i = next(i for i, p in enumerate(result["passes"]) if p["traced"])
    traced, after = result["passes"][i], result["passes"][i + 1]
    trace = result["trace"]
    ops, jobs, stages = traced["ops"], trace["jobs"], trace["stages"]
    executions, progress = trace["executions"], trace["progress"]
    setup = result["setup"]

    def tot(field):
        return sum(s[field] for s in stages)

    def job_iv(js):
        return [(_ms(j, "start_ms"), _ms(j, "end_ms")) for j in js]

    def by_op(name, phase=None):
        return [j for j in jobs if j["op"] == name
                and (phase is None or j["phase"] == phase)]

    construct = [(o["start_s"], o["constructed_s"]) for o in ops]
    sink = [(o["constructed_s"], o["end_s"]) for o in ops]
    tasks = tot("tasks")
    mb = 1e6
    wall = traced["wall_s"]
    pipeline = {o["name"]: o["end_s"] - o["start_s"] for o in ops}
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.corpus_s": (setup["corpus_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "ops.construct_s": (sum(e - s for s, e in construct), "s"),
        "ops.construct_jobs": (sum(1 for j in jobs if j["phase"] == "construct"), "count"),
        "ops.construct_self_s": (sum(
            self_time(iv, job_iv(by_op(o["name"], "construct")))
            for o, iv in zip(ops, construct)), "s"),
        "catalyst.analysis_ms": (sum(e["analysis_ms"] for e in executions), "ms"),
        "catalyst.optimizer_ms": (sum(e["optimizer_ms"] for e in executions), "ms"),
        "catalyst.planning_ms": (sum(e["planning_ms"] for e in executions), "ms"),
        "catalyst.executions": (len(executions), "count"),
        "sched.jobs": (len(jobs), "count"),
        "sched.stages": (len(stages), "count"),
        "sched.tasks": (tasks, "count"),
        "sched.empty_task_frac": (tot("empty_tasks") / tasks if tasks else 0.0, "ratio"),
        "sched.no_job_s": (sum(self_time((o["start_s"], o["end_s"]),
                                         job_iv(by_op(o["name"])))
                               for o in ops), "s"),
        "sched.job_overlap": (overlap(job_iv(jobs)), "ratio"),
        "sched.job_self_s": (sum(self_time(
            (_ms(j, "start_ms"), _ms(j, "end_ms")),
            [(_ms(s, "start_ms"), _ms(s, "end_ms"))
             for s in stages if s["job"] == j["job"]]) for j in jobs), "s"),
        "exec.task_run_s": (tot("run_s"), "s"),
        "exec.task_cpu_s": (tot("cpu_s"), "s"),
        "exec.gc_s": (tot("gc_s"), "s"),
        "exec.input_mb": (tot("input_bytes") / mb, "MB"),
        "exec.shuffle_read_mb": (tot("shuffle_read_bytes") / mb, "MB"),
        "exec.shuffle_write_mb": (tot("shuffle_write_bytes") / mb, "MB"),
        "exec.spill_mb": (tot("spill_bytes") / mb, "MB"),
        "exec.cpu_util": (tot("cpu_s") / (wall * result["cores"]), "ratio"),
        "sink.save_s": (sum(e - s for s, e in sink), "s"),
        "sink.self_s": (sum(self_time(iv, job_iv(by_op(o["name"], "sink")))
                            for o, iv in zip(ops, sink)), "s"),
        "sink.rows": (sum(max(o["rows"], 0) for o in ops)
                      + tot("output_rows"), "count"),
        "sink.output_mb": (tot("output_bytes") / mb, "MB"),
        "pipeline.etl_s": (pipeline.get("etl", 0.0), "s"),
        "pipeline.eda_s": (pipeline.get("eda", 0.0), "s"),
        "pipeline.model_s": (pipeline.get("model", 0.0), "s"),
        "streaming.batches": (len(progress), "count"),
        "streaming.batch_ms_p50": (statistics.median(
            p["trigger_ms"] for p in progress) if progress else 0.0, "ms"),
        "streaming.add_batch_ms": (sum(p["add_batch_ms"] for p in progress), "ms"),
        "streaming.planning_ms": (sum(p["planning_ms"] for p in progress), "ms"),
        "streaming.state_rows": (max((p["state_rows"] for p in progress),
                                     default=0), "count"),
        "trace.wall_s": (wall, "s"),
        "trace.untraced_wall_s": (after["wall_s"], "s"),
    }
    m["trace.overhead"] = (m["trace.wall_s"][0] / m["trace.untraced_wall_s"][0] - 1.0,
                           "ratio")
    return m
