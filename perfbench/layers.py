"""Per-layer metrics from a traced run.

The JVM records the client's op spans (one per call into a graft module)
and, while tracing, Spark's jobs, stages and query executions with the
op id each belongs to. Each op's wall time is split over the layers by
what is running at each instant, deepest layer first: a stage
(executor), else a job outside any stage (scheduler), else Catalyst
planning, else nothing Spark-side (the driver: graft's own code and
Spark's driver work between actions). The four self times therefore sum
to the op's wall time.
"""
import json
import re
import statistics
from pathlib import Path

COMMIT_NAME = re.compile(r"^(\d{20})\.json$")
PROBE_LABELS = ("probe", "shape", "envelope", "check")


def _union(ivs):
    out = []
    for s, e in sorted(i for i in ivs if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _measure(ivs, lo, hi):
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in _union(ivs))


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _per(total, n):
    return total / n if n else 0.0


def read_log(table_dir):
    """Commits of a TxLog table: version, ts, adds and removes."""
    log = Path(table_dir) / "_graft_log"
    out = []
    for p in sorted(log.iterdir()) if log.is_dir() else []:
        if COMMIT_NAME.match(p.name):
            out.append(json.loads(p.read_text()))
    return out


def per_layer(res, rows_of):
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    ok = [o for o in ops if o["ok"]]
    tr = res["trace"]
    jobs_of, stages_of = {}, {}
    for j in tr["jobs"]:
        jobs_of.setdefault(j["op"], []).append(j)
    for s in tr["stages"]:
        stages_of.setdefault(s["op"], []).append(s)
    # a query execution belongs to the op whose span holds its analysis start
    acts_of = {}
    for a in tr["actions"]:
        t = min((p["start_ms"] for p in a["phases"].values()), default=0)
        for o in ops:
            if o["start_ms"] - 1 <= t <= o["end_ms"] + 1:
                acts_of.setdefault(str(o["id"]), []).append(a)
                break

    def wall(o):
        return (o["end_ms"] - o["start_ms"]) / 1000.0

    def jobs(o):
        return jobs_of.get(str(o["id"]), [])

    def stages(o):
        return stages_of.get(str(o["id"]), [])

    def acts(o):
        return acts_of.get(str(o["id"]), [])

    def self_times(o):
        lo, hi = o["start_ms"], o["end_ms"]
        st = [(s["start_ms"], s["end_ms"]) for s in stages(o)]
        jb = [(j["start_ms"], j["end_ms"]) for j in jobs(o)]
        pl = [(p["start_ms"], p["end_ms"]) for a in acts(o) for k, p in a["phases"].items()
              if k in ("analysis", "optimization", "planning")]
        e = _measure(st, lo, hi)
        sj = _measure(st + jb, lo, hi)
        sjp = _measure(st + jb + pl, lo, hi)
        w = hi - lo
        return {"exec": e / 1000, "sched": (sj - e) / 1000, "plan": (sjp - sj) / 1000,
                "driver": (w - sjp) / 1000}

    selfs = {o["id"]: self_times(o) for o in ok}
    n = len(ok)
    all_acts = [a for o in ok for a in acts(o)]
    all_stages = [s for o in ok for s in stages(o)]

    def phase_ms(k):
        return _mean([a["phases"][k]["end_ms"] - a["phases"][k]["start_ms"]
                      for a in all_acts if k in a["phases"]])

    def stage_sum(k, ops_):
        return sum(s[k] for o in ops_ for s in stages(o))

    m = {
        "trace.op_wall_s": (_mean([wall(o) for o in ok]), "s"),
        "plan.self_s": (_mean([selfs[o["id"]]["plan"] for o in ok]), "s"),
        "sched.self_s": (_mean([selfs[o["id"]]["sched"] for o in ok]), "s"),
        "exec.self_s": (_mean([selfs[o["id"]]["exec"] for o in ok]), "s"),
        "driver.busy_s": (_mean([selfs[o["id"]]["driver"] for o in ok]), "s"),
        "plan.actions": (_per(len(all_acts), n), "count"),
        "plan.analysis_ms": (phase_ms("analysis"), "ms"),
        "plan.optimization_ms": (phase_ms("optimization"), "ms"),
        "plan.planning_ms": (phase_ms("planning"), "ms"),
        "plan.exchanges_per_action": (_mean([a["exchanges"] for a in all_acts]), "count"),
        "sched.jobs": (_per(sum(len(jobs(o)) for o in ok), n), "count"),
        "sched.stages": (_per(len(all_stages), n), "count"),
        "sched.tasks": (_per(sum(s["tasks"] for s in all_stages), n), "count"),
        "sched.delay_s": (_per(stage_sum("sched_delay_ms", ok) / 1000, n), "s"),
        "exec.run_s": (_per(stage_sum("run_ms", ok) / 1000, n), "s"),
        "exec.cpu_s": (_per(stage_sum("cpu_ns", ok) / 1e9, n), "s"),
        "exec.gc_s": (_per(stage_sum("gc_ms", ok) / 1000, n), "s"),
        "exec.input_bytes": (_per(stage_sum("input_bytes", ok), n), "B"),
        "exec.shuffle_write_bytes": (_per(stage_sum("shuffle_write_bytes", ok), n), "B"),
        "exec.shuffle_read_bytes": (_per(stage_sum("shuffle_read_bytes", ok), n), "B"),
        "exec.spill_bytes": (_per(stage_sum("spill_bytes", ok), n), "B"),
        "exec.output_bytes": (_per(stage_sum("output_bytes", ok), n), "B"),
        "driver.gc_s": (_mean([o["gc_ms"] / 1000 for o in ok]), "s"),
        "driver.heap_peak_mb": (res["heap_peak_mb"], "MiB"),
        "error_rate": (_per(len(ops) - n, len(ops)), "ratio"),
    }

    # tracing overhead: same ops, traced half against untraced half
    untraced = {}
    for o in res["ops"]:
        if o["phase"] == "timed" and o["ok"]:
            untraced.setdefault(o["name"], []).append(wall(o))
    both = [o for o in ok if o["name"] in untraced]
    base = sum(_mean(untraced[o["name"]]) for o in both)
    m["trace.overhead_share"] = (sum(wall(o) for o in both) / base - 1 if base else 0.0, "ratio")

    # graft.sources commit path
    commits = [o for o in ok if o["layer"] == "txlog.commit"]
    nc = len(commits)

    def label_s(os_, pred):
        return sum((j["end_ms"] - j["start_ms"]) / 1000 for o in os_ for j in jobs(o)
                   if pred(j["desc"]))

    m.update({
        "txlog.commit_s": (_mean([wall(o) for o in commits]), "s"),
        "txlog.jobs_per_commit": (_per(sum(len(jobs(o)) for o in commits), nc), "count"),
        "txlog.tasks_per_commit": (_per(sum(s["tasks"] for o in commits for s in stages(o)), nc), "count"),
        "txlog.stage_write_s": (_per(label_s(commits, lambda d: d == "txlog:stage-write"), nc), "s"),
        "txlog.stage_stats_s": (_per(label_s(commits, lambda d: d == "txlog:stage-stats"), nc), "s"),
        "txlog.probe_s": (_per(label_s(commits, lambda d: d.startswith("txlog:") and
                                       any(x in d for x in PROBE_LABELS)), nc), "s"),
        "txlog.driver_s": (_mean([selfs[o["id"]]["driver"] for o in commits]), "s"),
    })
    table = res["export"].get("table_dir")
    log = read_log(table) if table else []
    silver_ops = [o for o in ok if o["name"] in
                  ("ingest", "merge", "apply_changes", "append", "delete_mor", "update_mor")]
    maint = [o for o in ok if o["name"] == "maintain"]

    def commits_in(os_):
        return [c for c in log for o in os_ if o["start_ms"] <= c["ts"] <= o["end_ms"]]

    added = [a for c in commits_in(silver_ops) for a in c.get("add", [])]
    rows_changed = sum(rows_of(o) for o in silver_ops)
    maint_added = [a for c in commits_in(maint) for a in c.get("add", [])]
    probes = [p["snapshot_ms"] for p in res["probes"] if "snapshot_ms" in p]
    m.update({
        "txlog.files_added_per_commit": (_per(len(added), len(silver_ops)), "count"),
        "txlog.bytes_written_per_row_changed": (_per(sum(a.get("bytes", 0) for a in added), rows_changed), "B"),
        "txlog.snapshot_ms": (statistics.median(probes) if probes else 0.0, "ms"),
        "txlog.maintain_s": (_per(sum(wall(o) for o in ok if o["layer"] == "txlog.maintain"), len(maint)), "s"),
        "txlog.maintain_bytes_rewritten": (_per(sum(a.get("bytes", 0) for a in maint_added), len(maint)), "B"),
        "txlog.live_files": (res["export"].get("live_files", 0), "count"),
        "txlog.dv_files": (res["export"].get("dv_files", 0), "count"),
        "txlog.log_bytes": (sum(p.stat().st_size for p in (Path(table) / "_graft_log").iterdir())
                            if table else 0, "B"),
    })

    # graft.sources read path
    reads = [o for o in ok if o["layer"] == "scan"]
    pruned = [o for o in reads if o["name"] in ("read_range", "read_point")]
    live_at = _live_files(log)
    files_read = sum(a["scan_files"] for o in pruned for a in acts(o))
    files_live = sum(live_at(o["start_ms"]) for o in pruned)
    rows_back = sum(o["info"].get("rows", 0) for o in reads if o["name"] != "count_where")
    cw = [o for o in reads if o["name"] == "count_where"]
    m.update({
        "scan.files_read_per_read": (_per(files_read, len(pruned)), "count"),
        "scan.files_skipped_share": (1 - files_read / files_live if files_live else 0.0, "ratio"),
        "scan.rows_read_per_row_returned": (_per(sum(a["scan_rows"] for o in reads if o["name"] != "count_where"
                                                     for a in acts(o)), rows_back), "ratio"),
        "scan.bytes_read_per_read": (_per(stage_sum("input_bytes", reads), len(reads)), "B"),
        "scan.jobs_per_count_where": (_per(sum(len(jobs(o)) for o in cw), len(cw)), "count"),
    })

    # graft.etl + graft.quality
    ingests = [o for o in ok if o["layer"] == "etl.runjob"]
    ni = len(ingests)
    quality_jobs = [j for o in ingests for j in jobs(o) if "Quality.scala" in j["site"]]
    m.update({
        "etl.runjob_s": (_mean([wall(o) for o in ingests]), "s"),
        "etl.jobs_per_runjob": (_per(sum(len(jobs(o)) for o in ingests), ni), "count"),
        "etl.quarantined_share": (_per(sum(o["info"]["quarantined"] for o in ingests),
                                       sum(o["info"]["read"] for o in ingests)), "ratio"),
        "quality.validate_s": (_per(sum((j["end_ms"] - j["start_ms"]) / 1000 for j in quality_jobs), ni), "s"),
        "quality.scans_per_validate": (_per(len(quality_jobs), ni), "count"),
    })

    # graft.operators + graft.functions: mean wall per entry of each family
    for fam in ("dedup", "decon", "search", "similarity", "text", "tokenize", "fuzzy", "curation"):
        m[f"operators.{fam}_s"] = (_mean([wall(o) for o in ok if o["layer"] == f"operators.{fam}"]), "s")
    return m


def _live_files(log):
    """live file count of the table at a given epoch-ms time."""
    marks, live = [], set()
    for c in sorted(log, key=lambda c: c["version"]):
        for r in c.get("remove", []):
            live.discard(r)
        for a in c.get("add", []):
            live.add(a["path"])
        marks.append((c["ts"], len(live)))

    def at(t):
        n = 0
        for ts, k in marks:
            if ts > t:
                break
            n = k
        return n
    return at
