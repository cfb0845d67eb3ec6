"""Turn the benchmark JVM's raw samples into metrics.

The JVM (perfbench.Main) writes every op, phase, Spark job, stage, task
and stream micro-batch it saw. Everything here is a pure function of
that record, so the statistics rules are unit-tested on their own
(tests/test_metrics.py).

Times in the record are epoch milliseconds; metrics are in seconds.
"""
import math
import statistics

# Each workload's op kinds by role: ops that commit new rows (write),
# ops that only read (read) and ops that rewrite existing files
# (rewrite). `upsert_batch` is a stream micro-batch (its
# `triggerExecution`), not an op the harness timed itself.
ROLES = {
    "ingest": {"write": ["append"], "read": ["read"], "rewrite": ["optimize"]},
    "upsert": {"write": ["upsert_batch"], "read": ["tt_read", "cdf"],
               "rewrite": ["update", "delete"]},
}

# An op during which the hypervisor took more than this share of the
# machine's CPU time (Linux `steal`) is left out of the metrics; the
# harness runs the timed loop on to make up its time (Steal.Max).
STEAL_MAX = 0.05

# Tolerance (ms) when matching listener spans, which carry whole
# milliseconds, to op spans.
SLACK_MS = 2.0


def median(xs):
    """Median of a non-empty sequence; 0.0 for an empty one."""
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail_percentile(xs):
    """The highest of p99.9/p99/p95/p90/p75 that has at least ten
    samples beyond it, as (p, value); None when there are too few
    samples for any. The value is the nearest-rank percentile."""
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - p) / 100.0 >= 10:
            s = sorted(xs)
            return p, s[min(n - 1, max(0, math.ceil(p / 100.0 * n) - 1))]
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlapping stretches once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's wall time minus the part of it its children cover
    (children are clipped to the span first)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def stolen(o):
    return o["attrs"].get("steal", 0.0) > STEAL_MAX


def failure_count(ops):
    """(attempted, failed) over a list of op records."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def wall_s(o):
    return (o["end"] - o["start"]) / 1000.0


def phase_s(o, name):
    return sum((p["end"] - p["start"]) / 1000.0
               for p in o["phases"] if p["name"] == name)


class Samples:
    """Index over one timed loop of a run's record. A run has one loop,
    or with tracing an untraced loop followed by a traced one."""

    def __init__(self, rec, loop):
        self.rec = rec
        self.ops = [o for o in rec["ops"]
                    if o["timed"] and o["traced"] == loop["traced"]]
        self.jobs = rec.get("jobs", [])
        self.tasks_by_job = {}
        for job, _stage, launch, finish in rec.get("tasks", []):
            t = self.tasks_by_job.setdefault(job, [0, 0.0])
            t[0] += 1
            t[1] += (finish - launch) / 1000.0
        self.stages_by_job = {}
        for st in rec.get("stages", []):
            self.stages_by_job.setdefault(st["job"], []).append(st)
        t0, t1 = loop["timed_start"], loop["timed_end"]
        self.batches = sorted(
            (b for b in rec.get("batches", [])
             if t0 - SLACK_MS <= b["start"] <= t1 + SLACK_MS),
            key=lambda b: b["start"])

    def of(self, *kinds):
        """The successful ops of `kinds` the hypervisor did not steal
        from; all of them when it stole from every one."""
        ops = [o for o in self.ops if o["kind"] in kinds and o["ok"]]
        clean = [o for o in ops if not stolen(o)]
        return clean or ops

    def jobs_in(self, start, end):
        return [j for j in self.jobs
                if start - SLACK_MS <= j["start"] <= end + SLACK_MS]

    def span_stats(self, start, end):
        """Jobs launched inside [start, end]: count, union of their
        intervals (s), driver self time (s), tasks, task time (s),
        shuffle bytes."""
        js = self.jobs_in(start, end)
        job_ms = union_length([(max(j["start"], start), min(j["end"], end))
                               for j in js])
        tasks = sum(self.tasks_by_job.get(j["id"], [0, 0.0])[0] for j in js)
        task_s = sum(self.tasks_by_job.get(j["id"], [0, 0.0])[1] for j in js)
        shuffle = sum(st["shuffle_write"] for j in js
                      for st in self.stages_by_job.get(j["id"], []))
        return {"jobs": len(js), "job_s": job_ms / 1000.0,
                "self_s": (end - start - job_ms) / 1000.0,
                "tasks": tasks, "task_s": task_s, "shuffle_bytes": shuffle}

    def batch_span(self, b):
        return b["start"], b["start"] + b["trigger_ms"]

    def stream_batches(self):
        """Micro-batches of the drain ops `of` keeps."""
        return [b for o in self.of("upsert") for b in self.batches_in(o)]

    def batches_in(self, o):
        return [b for b in self.batches
                if o["start"] - SLACK_MS <= b["start"] <= o["end"]]

    def cpu(self, kinds):
        """(CPU seconds of all JVM threads, samples) of the ops of
        `kinds`. A stream micro-batch's share is its drain op's CPU over
        its batches."""
        total, n = 0.0, 0
        for k in kinds:
            if k == "upsert_batch":
                for o in self.of("upsert"):
                    total += o["attrs"].get("cpu_s", 0.0)
                    n += len(self.batches_in(o))
            else:
                for o in self.of(k):
                    total += o["attrs"].get("cpu_s", 0.0)
                    n += 1
        return total, n

    def kind_latencies(self, kind):
        if kind == "upsert_batch":
            return [b["trigger_ms"] / 1000.0 for b in self.stream_batches()]
        return [wall_s(o) for o in self.of(kind)]

    def kinds(self):
        roles = ROLES.get(self.rec["workload"])
        if roles:
            return [k for ks in roles.values() for k in ks]
        return sorted({o["kind"] for o in self.ops})


def end_to_end(rec, loop):
    """The metrics BENCHMARK.json gates for one timed loop, their sample
    counts, and the per-kind detail and workload-specific figures
    `run.py` prints above the result line."""
    s = Samples(rec, loop)
    kinds = {k: s.kind_latencies(k) for k in s.kinds()}
    roles = ROLES.get(rec["workload"], {"read": list(kinds)})
    metrics = {"setup_s": median(rec["setup_s"])}
    counts = {"setup_s": len(rec["setup_s"])}
    for role in ("write", "read", "rewrite"):
        xs = [x for k in roles.get(role, []) for x in kinds[k]]
        metrics[f"{role}_p50_s"] = median(xs)
        counts[f"{role}_p50_s"] = len(xs)
    metrics["heap_live_mb"] = loop["heap_live_mb"]
    counts["heap_live_mb"] = 1
    detail = {}
    for k, v in kinds.items():
        cpu, n = s.cpu([k])
        detail[k] = {"n": len(v), "p50_s": median(v), "mean_s": mean(v),
                     "tail": tail_percentile(v), "cpu_mean_s": cpu / n if n else 0.0}
    return metrics, counts, detail, named_metrics(rec, s, kinds)


def named_metrics(rec, s, kinds):
    """Workload-specific end-to-end figures, as (value, unit, samples)."""
    w = rec["workload"]
    attempted, failed = failure_count(rec["ops"])
    out = {"failed_frac": (failed / attempted if attempted else 0.0,
                           "failed/attempted", attempted)}
    # commit rate while committing: commits over the wall time of the
    # ops that made them (reads in between do not dilute it; a rare slow
    # commit, e.g. one that writes a checkpoint, lowers it). Mean-based,
    # so noisier than the medians; reported, not gated.
    committing = [o for o in s.ops
                  if o["ok"] and op_commits(o) and not stolen(o)]
    commits = sum(len(op_commits(o)) for o in committing)
    wall = sum(wall_s(o) for o in committing)
    out["commits_per_s"] = (commits / wall if wall > 0 else 0.0, "1/s", commits)

    def med(name, kind):
        v = kinds.get(kind) or s.kind_latencies(kind)
        out[name] = (median(v), "s", len(v))

    if w == "ingest":
        med("append_p50_s", "append")
        med("read_p50_s", "read")
        med("optimize_s", "optimize")
    elif w == "upsert":
        med("upsert_batch_p50_s", "upsert_batch")
        dml = [wall_s(o) for o in s.of("update", "delete")]
        out["dml_p50_s"] = (median(dml), "s", len(dml))
        med("cdf_read_p50_s", "cdf")
        med("tt_read_p50_s", "tt_read")
    else:
        for layer, name in (("operators", "analytic_pass_s"),
                            ("llm", "llm_pass_s")):
            gates = {o["kind"] for o in s.ops
                     if o["attrs"].get("layer") == layer}
            per = [median(kinds[g]) for g in gates if g in kinds]
            out[name] = (sum(per), "s", len(per))
    return out


PER_LAYER = [
    # (name, unit)
    ("dlv.log.snapshot_s", "s"), ("dlv.log.materializations_per_op", "count"),
    ("dlv.log.commit_bytes", "bytes"),
    ("dlv.scan.plan_s", "s"), ("dlv.scan.exec_s", "s"),
    ("dlv.scan.files_total", "count"), ("dlv.scan.files_read", "count"),
    ("dlv.scan.kept_frac", "ratio"),
    ("dlv.write.job_s", "s"), ("dlv.write.driver_self_s", "s"),
    ("dlv.write.jobs", "count"), ("dlv.write.tasks_per_file", "ratio"),
    ("dlv.write.files_added", "count"), ("dlv.write.bytes_written", "bytes"),
    ("dlv.ckpt.count", "count"), ("dlv.ckpt.bytes", "bytes"),
    ("dlv.ckpt.extra_s", "s"),
    ("dlv.dml.job_s", "s"), ("dlv.dml.driver_self_s", "s"),
    ("dlv.dml.jobs", "count"), ("dlv.dml.files_removed", "count"),
    ("dlv.dml.files_added", "count"), ("dlv.dml.bytes_written", "bytes"),
    ("dlv.dml.write_amp", "ratio"),
    ("dlv.cdf.plan_s", "s"), ("dlv.cdf.plan_jobs", "count"),
    ("dlv.cdf.exec_s", "s"),
    ("dlv.maint.jobs", "count"), ("dlv.maint.job_s", "s"),
    ("dlv.maint.driver_self_s", "s"), ("dlv.maint.files_removed", "count"),
    ("dlv.maint.bytes_rewritten", "bytes"),
    ("dlv.table.files_live", "count"), ("dlv.table.bytes_per_user_byte", "ratio"),
    ("streaming.addbatch_s", "s"), ("streaming.overhead_s", "s"),
    ("streaming.gap_s", "s"), ("streaming.start_s", "s"),
    ("spark.core_util", "ratio"),
    ("trace.overhead_frac", "ratio"),
]


def per_layer(rec):
    """Per-layer metrics of a run's traced loop. A layer the workload
    does not exercise reads 0."""
    loop = rec["loops"][-1]
    s = Samples(rec, loop)
    m = {name: 0.0 for name, _ in PER_LAYER}

    # dlv.log
    snaps = [phase_s(o, "snapshot") for o in s.of("read", "tt_read")]
    m["dlv.log.snapshot_s"] = median(snaps)
    m["dlv.log.materializations_per_op"] = mean(
        [o["attrs"].get("materializations", 0) for o in s.ops])
    commits = commit_records(s)
    m["dlv.log.commit_bytes"] = median([c["commit_bytes"] for c in commits])

    # dlv.scan
    reads = s.of("read", "tt_read")
    m["dlv.scan.plan_s"] = median([phase_s(o, "plan") for o in reads])
    m["dlv.scan.exec_s"] = median([phase_s(o, "exec") for o in reads])
    total = [o["attrs"].get("files_total", 0) for o in reads]
    got = [o["attrs"].get("files_read", 0) for o in reads]
    m["dlv.scan.files_total"] = median(total)
    m["dlv.scan.files_read"] = median(got)
    m["dlv.scan.kept_frac"] = sum(got) / sum(total) if sum(total) else 0.0

    # dlv.write
    appends = s.of("append")
    st = [s.span_stats(o["start"], o["end"]) for o in appends]
    if appends:
        files = sum(o["attrs"]["files_added"] for o in appends)
        m["dlv.write.job_s"] = median([x["job_s"] for x in st])
        m["dlv.write.driver_self_s"] = median([x["self_s"] for x in st])
        m["dlv.write.jobs"] = median([x["jobs"] for x in st])
        m["dlv.write.tasks_per_file"] = (
            sum(x["tasks"] for x in st) / files if files else 0.0)
        m["dlv.write.files_added"] = median(
            [o["attrs"]["files_added"] for o in appends])
        m["dlv.write.bytes_written"] = median(
            [o["attrs"]["bytes_written"] for o in appends])

    # dlv.ckpt
    ck = [c for c in commits if c["checkpoint"]]
    m["dlv.ckpt.count"] = len(ck)
    m["dlv.ckpt.bytes"] = median([c["checkpoint_bytes"] for c in ck])
    at = [wall_s(o) for o in appends if o["attrs"].get("checkpoint")]
    off = [wall_s(o) for o in appends if not o["attrs"].get("checkpoint")]
    if at and off:
        m["dlv.ckpt.extra_s"] = median(at) - median(off)

    # dlv.dml: MERGE micro-batches, UPDATE and DELETE
    spans = [s.batch_span(b) for b in s.stream_batches()] + [
        (o["start"], o["end"]) for o in s.of("update", "delete")]
    if spans:
        st = [s.span_stats(a, b) for a, b in spans]
        m["dlv.dml.job_s"] = median([x["job_s"] for x in st])
        m["dlv.dml.driver_self_s"] = median([x["self_s"] for x in st])
        m["dlv.dml.jobs"] = median([x["jobs"] for x in st])
        dml = [c for c in commits if c.get("op") in ("upsert", "update", "delete")]
        m["dlv.dml.files_removed"] = median([c["files_removed"] for c in dml])
        m["dlv.dml.files_added"] = median([c["files_added"] for c in dml])
        m["dlv.dml.bytes_written"] = median([c["bytes_written"] for c in dml])
        affected = sum(o["attrs"].get("rows_affected", 0)
                       for o in s.of("upsert", "update", "delete"))
        written = sum(c["rows_written"] for c in dml)
        m["dlv.dml.write_amp"] = written / affected if affected else 0.0

    # dlv.cdf
    cdfs = s.of("cdf")
    m["dlv.cdf.plan_s"] = median([phase_s(o, "plan") for o in cdfs])
    m["dlv.cdf.exec_s"] = median([phase_s(o, "exec") for o in cdfs])
    m["dlv.cdf.plan_jobs"] = median([
        len(s.jobs_in(p["start"], p["end"]))
        for o in cdfs for p in o["phases"] if p["name"] == "plan"])

    # dlv.maint
    opts = s.of("optimize")
    if opts:
        st = [s.span_stats(o["start"], o["end"]) for o in opts]
        m["dlv.maint.jobs"] = median([x["jobs"] for x in st])
        m["dlv.maint.job_s"] = median([x["job_s"] for x in st])
        m["dlv.maint.driver_self_s"] = median([x["self_s"] for x in st])
        m["dlv.maint.files_removed"] = median(
            [o["attrs"]["files_removed"] for o in opts])
        m["dlv.maint.bytes_rewritten"] = median(
            [o["attrs"]["bytes_written"] for o in opts])

    # dlv.table
    t = rec.get("table") or {}
    m["dlv.table.files_live"] = t.get("files_live", 0)
    m["dlv.table.bytes_per_user_byte"] = t.get("bytes_per_user_byte", 0.0)

    # streaming
    batches = s.stream_batches()
    if batches:
        m["streaming.addbatch_s"] = median(
            [b["addbatch_ms"] / 1000.0 for b in batches])
        m["streaming.overhead_s"] = median(
            [(b["trigger_ms"] - b["addbatch_ms"]) / 1000.0 for b in batches])
        gaps, starts = [], []
        for o in s.of("upsert"):
            bs = s.batches_in(o)
            if bs:
                starts.append((bs[0]["start"] - o["start"]) / 1000.0)
            for a, b in zip(bs, bs[1:]):
                gaps.append((b["start"] - a["start"] - a["trigger_ms"]) / 1000.0)
        m["streaming.gap_s"] = median(gaps)
        m["streaming.start_s"] = median(starts)

    # spark: task time over the timed phase against all cores
    wall = (loop["timed_end"] - loop["timed_start"]) / 1000.0
    task_s = sum((f - l) / 1000.0 for _j, _s, l, f in rec.get("tasks", [])
                 if loop["timed_start"] <= l <= loop["timed_end"])
    m["spark.core_util"] = task_s / (wall * rec["cpus"]) if wall > 0 else 0.0
    return m


def gate_layers(rec):
    """`analytics` only: per-pass plan/exec time, jobs, task time and
    shuffle bytes of the `operators` and `llm` gates (a pass = the sum
    over the layer's gates of each gate's median), from the traced loop."""
    s = Samples(rec, rec["loops"][-1])
    m = {}
    for layer in ("operators", "llm"):
        by_gate = {}
        for o in s.ops:
            if o["ok"] and o["attrs"].get("layer") == layer:
                by_gate.setdefault(o["kind"], []).append(o)
        if not by_gate:
            continue
        tot = {"plan_s": 0.0, "exec_s": 0.0, "jobs": 0.0, "task_s": 0.0,
               "shuffle_bytes": 0.0}
        for os_ in by_gate.values():
            st = [s.span_stats(o["start"], o["end"]) for o in os_]
            tot["plan_s"] += median([phase_s(o, "plan") for o in os_])
            tot["exec_s"] += median([phase_s(o, "exec") for o in os_])
            for k in ("jobs", "task_s", "shuffle_bytes"):
                tot[k] += median([x[k] for x in st])
        for k, v in tot.items():
            m[f"{layer}.{k}"] = v
    return m


def op_commits(o):
    """The commits one op made: a list of per-commit records."""
    a = o["attrs"]
    if "commits" in a:
        return a["commits"]
    return [a] if "commit_bytes" in a else []


def commit_records(s):
    """Every commit a timed op made, tagged with the op's kind."""
    return [dict(c, op=o["kind"]) for o in s.ops if o["ok"] for c in op_commits(o)]


def coverage(rec):
    """Check that, for every traced timed op, its child spans (phases and
    the Spark jobs it launched) plus its self time add up to its wall
    time, and that no child lies outside it. Returns (ops checked, ops
    whose children spill outside, largest gap in ms)."""
    s = Samples(rec, rec["loops"][-1])
    checked, spill, worst = 0, 0, 0.0
    for o in s.ops:
        if not o["traced"]:
            continue
        kids = [(p["start"], p["end"]) for p in o["phases"]]
        kids += [(j["start"], j["end"]) for j in s.jobs_in(o["start"], o["end"])]
        if any(b > o["end"] + SLACK_MS or a < o["start"] - SLACK_MS for a, b in kids):
            spill += 1
        wall = o["end"] - o["start"]
        covered = union_length([(max(a, o["start"]), min(b, o["end"])) for a, b in kids])
        gap = abs(covered + self_time(o["start"], o["end"], kids) - wall)
        worst = max(worst, gap)
        checked += 1
    return checked, spill, worst
