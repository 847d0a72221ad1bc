"""Trace summariser: per-operation self time per layer, listener counts,
failure-mode flags, and the workload's per-layer metrics.

Input is the harness's trace.json: spans recorded around each layer's
entry point, and the jobs, stages and tasks a SparkListener attributed to
them. A span's self time is its duration minus the time its child spans
cover. Execution layers are `exec` (consuming a registry query's rows),
`etl` (EtlJob.run) and `flow` (one dailyFlow stage).

Flags, read from the listener data alone:
  serial_heavy_stage  a 1-task stage ran for >= 200 ms with more cores idle;
  double_execution    more jobs of one operation recomputed RDDs an earlier
                      job of it had computed than its range exchanges
                      explain (each samples its input in a job of its own);
  build_jobs          Spark jobs ran while the DataFrame was being built.

Usage: python3 perfbench/summarise.py <trace.json>
"""
import collections
import json
import statistics
import sys

EXEC_LAYERS = ("exec", "etl", "flow")
SERIAL_MS = 200
SKEW_MIN_MS = 100
MB = 1e6


def _dur_ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def _stage_ms(stage):
    if stage["submitted_ms"] < 0 or stage["completed_ms"] < 0:
        return 0.0
    return float(stage["completed_ms"] - stage["submitted_ms"])


def computed_rdds(stage):
    """RDD ids a stage computed: everything reachable from its final RDD
    without passing through a persisted one."""
    info = {r[0]: (r[1], r[2]) for r in stage["rdds"]}
    if not stage["rdds"]:
        return set()
    out, todo = set(), [stage["rdds"][0][0]]
    while todo:
        rid = todo.pop()
        if rid in out or rid not in info:
            continue
        parents, persisted = info[rid]
        if persisted:
            continue
        out.add(rid)
        todo.extend(parents)
    return out


def _skew(stage):
    ts = sorted(stage["task_ms"])
    if len(ts) < 2 or ts[-1] < SKEW_MIN_MS:
        return 1.0
    return ts[-1] / max(statistics.median(ts), 1.0)


class Trace:
    def __init__(self, doc):
        self.cores = doc["cores"]
        self.spans = {s["id"]: s for s in doc["spans"]}
        self.children = collections.defaultdict(list)
        for s in doc["spans"]:
            self.children[s["parent"]].append(s["id"])
        self.jobs_of = collections.defaultdict(list)
        for j in doc["jobs"]:
            self.jobs_of[j["span"]].append(j)
        self.stages_of = collections.defaultdict(list)
        for st in doc["stages"]:
            self.stages_of[st["job"]].append(st)

    def self_ms(self, sid):
        return _dur_ms(self.spans[sid]) - sum(
            _dur_ms(self.spans[c]) for c in self.children[sid])

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s])
        return out

    def op(self, root):
        """Everything measured for one operation instance."""
        sids = self.subtree(root)
        layer_ms = collections.Counter()
        layer_jobs = collections.Counter()
        stages, gc_ms, attrs = [], 0, {}
        job_rdds = {}
        for sid in sids:
            s = self.spans[sid]
            layer = s["layer"]
            layer_ms[layer] += self.self_ms(sid)
            layer_jobs[layer] += len(self.jobs_of[sid])
            if layer in EXEC_LAYERS:
                gc_ms += s["attrs"].get("gc_ms", 0)
                attrs.update(s["attrs"])
                for j in self.jobs_of[sid]:
                    job_rdds[j["id"]] = set()
                    for st in self.stages_of[j["id"]]:
                        stages.append(st)
                        if not st["failed"]:
                            job_rdds[j["id"]] |= computed_rdds(st)
        seen, repeats = set(), 0
        for _, rdds in sorted(job_rdds.items()):
            repeats += bool(seen & rdds)
            seen |= rdds
        twice = repeats > attrs.get("range_exchanges", 0)
        exec_ms = sum(layer_ms[l] for l in EXEC_LAYERS)
        busy = sum(sum(st["task_ms"]) for st in stages)
        serial = sum(1 for st in stages if st["num_tasks"] == 1
                     and _stage_ms(st) >= SERIAL_MS and self.cores > 1)
        root_span = self.spans[root]
        return {
            "op": root_span["op"], "pass": root_span["pass"],
            "wall_ms": _dur_ms(root_span), "ok": root_span["attrs"]["ok"],
            "build_ms": layer_ms["build"], "build_jobs": layer_jobs["build"],
            "plan_ms": layer_ms["plan"], "plan_jobs": layer_jobs["plan"],
            "exec_ms": exec_ms,
            "exec_jobs": sum(layer_jobs[l] for l in EXEC_LAYERS),
            "etl_ms": layer_ms["etl"], "etl_jobs": layer_jobs["etl"],
            "op_self_ms": layer_ms["op"],
            "stages": len(stages),
            "tasks": sum(len(st["task_ms"]) for st in stages),
            "busy_ms": busy,
            "serial_stages": serial,
            "skew": max([_skew(st) for st in stages], default=1.0),
            "shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in stages) / MB,
            "shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in stages) / MB,
            "spill_mb": sum(st["spill_bytes"] for st in stages) / MB,
            "input_mb": sum(st["input_bytes"] for st in stages) / MB,
            "input_bytes": sum(st["input_bytes"] for st in stages),
            "gc_ms": gc_ms,
            "root_sort": bool(attrs.get("root_sort", False)),
            "cache_scans": attrs.get("cache_scans", 0),
            "repeat_jobs": repeats,
            "flags": [f for f, on in (
                ("serial_heavy_stage", serial > 0),
                ("double_execution", twice),
                ("build_jobs", layer_jobs["build"] > 0)) if on],
        }

    def ops(self, passes):
        """Operation instances (top-level spans) of the given passes."""
        return [self.op(sid) for sid in self.children[-1]
                if self.spans[sid]["pass"] in passes]


def _median_over(passes, fn):
    vals = [fn(p) for p in passes]
    return statistics.median(vals) if vals else 0.0


def per_layer(doc, events):
    """The workload's per-layer metrics.

    `events` are the harness's protocol events for the run. Sums are per
    pass, then the median over the warm passes is taken.
    """
    t = Trace(doc)
    pass_ev = [e for e in events if e["event"] == "pass"]
    warm = [e["pass"] for e in pass_ev if e["pass"] > 0]
    by_pass = {p: t.ops([p]) for p in warm}
    writes = {e["pass"]: e for e in events if e["event"] == "etl_write"}
    op_ev = [e for e in events if e["event"] == "op"]

    def total(key):
        return _median_over(warm, lambda p: sum(o[key] for o in by_pass[p]))

    def ratio(num, den):
        return _median_over(warm, lambda p: (
            sum(o[num] for o in by_pass[p]) /
            max(sum(o[den] for o in by_pass[p]), 1e-9)))

    def flagged(flag):
        return _median_over(warm, lambda p: sum(
            1 for o in by_pass[p] if flag in o["flags"]))

    def flow_ms(stage):
        return total_where(lambda o: o["op"] == f"flow.{stage}", "exec_ms")

    def total_where(pred, key):
        return _median_over(warm, lambda p: sum(
            o[key] for o in by_pass[p] if pred(o)))

    probes = [t.op(sid) for sid in t.children[-1]
              if t.spans[sid]["pass"] == -1]
    probe_jobs = [len(t.jobs_of[sid]) for sid in t.children[-1]
                  if t.spans[sid]["pass"] == -1]
    trace_s = {e["pass"]: e["trace_s"] for e in pass_ev}
    storage = next(e for e in events if e["event"] == "storage")
    input_bytes = max([w["input_bytes"] for w in writes.values()], default=0)
    m = {
        "tables.read_ms": statistics.median(
            [p["wall_ms"] for p in probes]) if probes else 0.0,
        "tables.read_jobs": statistics.mean(probe_jobs) if probe_jobs else 0.0,
        "build.ms": total("build_ms"),
        "build.jobs": total("build_jobs"),
        "build.share": ratio("build_ms", "wall_ms"),
        "plan.ms": total("plan_ms"),
        "plan.jobs": total("plan_jobs"),
        "exec.ms": total("exec_ms"),
        "exec.jobs": total("exec_jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.busy_ms": total("busy_ms"),
        "exec.core_util": ratio("busy_ms", "exec_ms") / t.cores,
        "exec.serial_stages": total("serial_stages"),
        "exec.skew": _median_over(warm, lambda p: max(
            [o["skew"] for o in by_pass[p]], default=1.0)),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.spill_mb": total("spill_mb"),
        "exec.gc_ms": total("gc_ms"),
        "exec.input_mb": total("input_mb"),
        "exec.root_sort": total("root_sort"),
        "cache.blocks": storage["blocks"],
        "cache.mb": storage["bytes"] / MB,
        "cache.scans": total("cache_scans"),
        "etl.ms": total("etl_ms"),
        "etl.jobs": total("etl_jobs"),
        "etl.reread": (total_where(lambda o: o["op"] == "etl", "input_bytes")
                       / input_bytes if input_bytes else 0.0),
        "write.mb": _median_over(warm, lambda p: writes[p]["bytes"] / MB
                                 if p in writes else 0.0),
        "write.files": _median_over(warm, lambda p: writes[p]["files"]
                                    if p in writes else 0),
        "flow.etl_features_ms": flow_ms("etl_features"),
        "flow.validate_ms": flow_ms("validate"),
        "flow.train_ms": flow_ms("train"),
        "flow.score_ms": flow_ms("score"),
        "flow.attempts": _median_over(warm, lambda p: sum(
            e.get("attempts", 0) for e in op_ev if e["pass"] == p)),
        "flags.serial_heavy_stage": flagged("serial_heavy_stage"),
        "flags.double_execution": flagged("double_execution"),
        "flags.build_jobs": flagged("build_jobs"),
        "trace.overhead_s": _median_over(warm, trace_s.get),
    }
    return m, op_table(t, warm)


def op_table(t, passes):
    """One row per operation: medians over the given passes."""
    rows = collections.defaultdict(list)
    for o in t.ops(passes):
        rows[o["op"]].append(o)
    out = []
    for name, os_ in sorted(rows.items()):
        med = {k: statistics.median([o[k] for o in os_]) for k in (
            "wall_ms", "build_ms", "build_jobs", "plan_ms", "plan_jobs",
            "exec_ms", "exec_jobs", "stages", "tasks", "busy_ms",
            "serial_stages", "skew", "cache_scans")}
        med["build_share"] = med["build_ms"] / max(med["wall_ms"], 1e-9)
        med["core_util"] = (sum(o["busy_ms"] for o in os_) /
                            max(sum(o["exec_ms"] for o in os_), 1e-9) / t.cores)
        med["root_sort"] = any(o["root_sort"] for o in os_)
        med["flags"] = sorted({f for o in os_ for f in o["flags"]})
        out.append(dict(op=name, **med))
    return out


def format_op(row):
    return (f"op {row['op']} wall_ms={row['wall_ms']:.0f} "
            f"build_ms={row['build_ms']:.0f} build_jobs={row['build_jobs']:g} "
            f"build_share={row['build_share']:.2f} plan_ms={row['plan_ms']:.0f} "
            f"exec_ms={row['exec_ms']:.0f} exec_jobs={row['exec_jobs']:g} "
            f"stages={row['stages']:g} tasks={row['tasks']:g} "
            f"core_util={row['core_util']:.2f} skew={row['skew']:.1f} "
            f"root_sort={int(row['root_sort'])} "
            f"flags={','.join(row['flags']) or '-'}")


if __name__ == "__main__":
    doc = json.load(open(sys.argv[1]))
    t = Trace(doc)
    passes = sorted({s["pass"] for s in doc["spans"] if s["pass"] > 0})
    for row in op_table(t, passes):
        print(format_op(row))
