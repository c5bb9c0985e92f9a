"""Metrics from a raw run record (the JVM side's output).

End-to-end metrics come from untraced passes. Per-layer metrics come from
a `--trace 1` run: layer figures from its traced passes (spans plus the
Spark listener), wall-clock and latency figures from its untraced passes,
and the tracing overhead from comparing the two. A layer a workload does
not reach reports 0."""
from stats import layer_self_times, median, tail, union_length

LAYERS = ("client", "mr", "operators", "txlog", "catalog", "plans", "matview", "spark")
SPARK_COUNTERS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                  ("task_failures", "count"), ("executor_cpu_s", "s"),
                  ("executor_run_s", "s"), ("input_bytes", "B"),
                  ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
                  ("spill_bytes", "B"), ("task_skew", "x"))
CATEGORIES = {"write": ("append",), "read": ("read", "time_travel", "sql_read"),
              "dml": ("delete_mor", "merge_mor", "sql_update")}


def _latency(name, samples, unit="ms"):
    """{name}_p50 and {name}_tail, the tail by the >=10-beyond rule."""
    if not samples:
        return {f"{name}_p50_ms": (0.0, unit, "no samples"),
                f"{name}_tail_ms": (0.0, unit, "no samples")}
    value, pct, n = tail(samples)
    return {f"{name}_p50_ms": (median(samples), unit, f"n={len(samples)}"),
            f"{name}_tail_ms": (value, unit, f"p{pct:.1f} of n={n}")}


def _untraced(raw):
    """Passes run without spans, and their operation latencies (ms)."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    ids = {p["pass"] for p in passes}
    return passes, [o["ms"] for o in raw["ops"] if o["pass"] in ids]


def _warm_setups(raw):
    """Session builds after the first. The first also starts the JVM's
    classes and compilers, so it is far slower and varies far more; it is
    reported per layer as `session.first_s`."""
    return raw["setups"][1:]


def end_to_end(raw):
    """Costs that co-tenant load on a shared host moves least: set-up time,
    CPU time on the client thread and in Spark tasks, Spark jobs and
    retained heap. Wall-clock figures swing too much there to gate on; they
    are per-layer metrics."""
    passes, _ = _untraced(raw)
    return {
        "setup_s": (median([s["build_s"] + s["warmup_s"] for s in _warm_setups(raw)]), "s",
                    f"median of {len(_warm_setups(raw))} session builds plus warm-ups "
                    "after the first"),
        "driver_cpu_s": (median([p["driver_cpu_s"] for p in passes]), "s",
                         f"client thread CPU per pass, median of {len(passes)}"),
        "executor_cpu_s": (median([p["spark"]["executor_cpu_s"] for p in passes]), "s",
                           f"Spark task CPU per pass, median of {len(passes)}"),
        "jobs": (median([p["spark"]["jobs"] for p in passes]), "count", "Spark jobs per pass"),
        "heap_mb": (raw["heap_mb"], "MB", "used heap after GC at the end"),
    }


def wall_clock(raw):
    """Pass wall, process CPU and operation latency of untraced passes."""
    passes, ops = _untraced(raw)
    out = {"wall_s": (median([p["wall_s"] for p in passes]), "s",
                      f"median pass of {len(passes)}"),
           "cpu_s": (median([p["cpu_s"] for p in passes]), "s", "process CPU per pass")}
    out.update(_latency("op", ops))
    return out


class Trace:
    """Spans and Spark jobs of the traced passes, with the jobs each span
    launched directly or through its descendants and the shuffle bytes
    those jobs wrote."""

    def __init__(self, raw):
        self.passes = [p for p in raw["passes"] if p["traced"]]
        ids = {p["pass"] for p in self.passes}
        self.spans = [s for s in raw["spans"] if s["pass"] in ids]
        parent = {s["id"]: s["parent"] for s in self.spans}
        self.jobs_under, self.shuffle_under = {}, {}
        for p in self.passes:
            for j in p["spark"]["job_spans"]:
                node = j["parent"]
                while node:
                    self.jobs_under[node] = self.jobs_under.get(node, 0) + 1
                    self.shuffle_under[node] = (self.shuffle_under.get(node, 0)
                                                + j["shuffle_write_bytes"])
                    node = parent.get(node, 0)

    def named(self, *names):
        return [s for s in self.spans if s["name"] in names]

    def ms(self, *names):
        d = [(s["end"] - s["start"]) / 1e6 for s in self.named(*names)]
        return median(d) if d else 0.0

    def jobs_per(self, *names):
        sp = self.named(*names)
        return sum(self.jobs_under.get(s["id"], 0) for s in sp) / len(sp) if sp else 0.0

    def shuffle_per_pass(self, *names):
        """Shuffle bytes written by the jobs under spans `names`, per pass."""
        return self.per_pass(lambda p: sum(self.shuffle_under.get(s["id"], 0)
                                           for s in self.named(*names)
                                           if s["pass"] == p["pass"]))

    def per_pass(self, f):
        return median([f(p) for p in self.passes])

    def layer_self_s(self, p):
        """Self time per layer in pass p. The pass itself is the root span
        (layer `client`: the benchmark's own code between calls), and each
        Spark job is a span under the span that launched it."""
        root = {"id": "pass", "parent": None, "layer": "client",
                "start": p["start"], "end": p["end"]}
        spans = [root] + [dict(s, parent=s["parent"] or "pass")
                          for s in self.spans if s["pass"] == p["pass"]]
        spans += [{"id": f"job{j['job']}", "parent": j["parent"] or "pass",
                   "layer": "spark", "start": j["start"], "end": j["end"]}
                  for j in p["spark"]["job_spans"]]
        return {k: v / 1e9 for k, v in layer_self_times(spans).items()}

    def driver_only_s(self, p):
        jobs = [(max(j["start"], p["start"]), min(j["end"], p["end"]))
                for j in p["spark"]["job_spans"] if j["end"] > p["start"] and j["start"] < p["end"]]
        return (p["end"] - p["start"] - union_length(jobs)) / 1e9


def _growth(t):
    """Median read construction time in the last tenth of a pass's reads
    over the median in the first tenth, median over traced passes."""
    ratios = []
    for p in t.passes:
        d = [(s["end"] - s["start"]) for s in sorted(t.named("txlog.read_construct"),
                                                     key=lambda s: s["start"])
             if s["pass"] == p["pass"]]
        if d:
            k = max(1, len(d) // 10)
            ratios.append(median(d[-k:]) / median(d[:k]))
    return median(ratios) if ratios else 0.0


def _overhead_pct(raw, t, untraced_ids):
    """Tracing overhead: each operation kind's median latency in the traced
    passes over its median in the untraced passes that ran after them (the
    first pass of a run is colder than the rest); the median of those
    ratios over kinds, as a percentage."""
    traced_ids = {p["pass"] for p in t.passes}
    after = {i for i in untraced_ids if i > min(traced_ids)}
    by_kind = {}
    for o in raw["ops"]:
        side = 0 if o["pass"] in traced_ids else 1 if o["pass"] in after else None
        if side is not None:
            by_kind.setdefault(o["kind"], ([], []))[side].append(o["ms"])
    ratios = [median(tr) / median(un) for tr, un in by_kind.values() if tr and un]
    return 100 * (median(ratios) - 1) if ratios else 0.0


def per_layer(raw, expected, failed, attempted):
    t = Trace(raw)
    untraced = [p for p in raw["passes"] if not p["traced"]]
    untraced_ids = {p["pass"] for p in untraced}
    first = t.passes[0]
    facts = first["facts"]
    calls = expected.get("calls", [])
    records_in = sum(c["lines"] for c in calls)
    groups_out = sum(o["rows"] for o in raw["observations"]
                     if o.get("pass") == first["pass"] and "rows" in o)
    self_s = [t.layer_self_s(p) for p in t.passes]
    untraced_wall = median([p["wall_s"] for p in untraced])
    m = wall_clock(raw)
    m.update({
        "session.build_s": (median([s["build_s"] for s in _warm_setups(raw)]), "s", ""),
        "session.warmup_s": (median([s["warmup_s"] for s in _warm_setups(raw)]), "s", ""),
        "session.first_s": (raw["setups"][0]["build_s"] + raw["setups"][0]["warmup_s"], "s",
                            "first build plus warm-up, JVM cold"),
        "records_per_s": (records_in / untraced_wall, "1/s", "mr input lines per second"),
        "failed_ratio": (failed / attempted, "ratio", f"{failed} of {attempted}"),
        "mr.plan_ms": (t.ms("mr.plan"), "ms", ""),
        "mr.wordcount_ms": (t.ms("wordCount"), "ms", ""),
        "mr.distinct_sorted_ms": (t.ms("distinctSorted"), "ms", ""),
        "mr.records_in": (records_in, "count", "lines per pass"),
        "mr.groups_out": (groups_out, "count", "groups per pass"),
        "mr.shuffle_bytes_per_record": (
            t.shuffle_per_pass("wordCount", "distinctSorted") / records_in
            if records_in else 0.0, "B", "shuffle write of the MapReduce jobs per input line"),
        "mr.jobs_per_call": (t.jobs_per("wordCount", "distinctSorted"), "count", ""),
        "operators.plan_ms": (t.ms("operators.plan"), "ms", "median query"),
        "operators.exec_ms": (t.ms("operators.exec"), "ms", "median query"),
        "operators.jobs_per_query": (t.jobs_per(*[s["name"] for s in t.spans
                                                  if s["layer"] == "operators"
                                                  and not s["name"].startswith("operators.")]),
                                     "count", ""),
        "txlog.read_construct_ms": (t.ms("txlog.read_construct"), "ms", ""),
        "txlog.read_construct_jobs": (t.jobs_per("txlog.read_construct"), "count", ""),
        "txlog.read_construct_growth": (_growth(t), "x", "last tenth over first tenth"),
        "txlog.read_exec_ms": (t.ms("txlog.read_exec"), "ms", ""),
        "txlog.time_travel_ms": (t.ms("time_travel"), "ms", ""),
        "txlog.append_ms": (t.ms("append"), "ms", ""),
        "txlog.append_jobs": (t.jobs_per("append"), "count", ""),
        "txlog.versions_ms": (t.ms("txlog.versions"), "ms", ""),
        "txlog.snapshot_files_ms": (t.ms("txlog.snapshot_files"), "ms", ""),
        "txlog.commit_metas_ms": (t.ms("txlog.commit_metas"), "ms", ""),
        "txlog.last_committed_batch_ms": (t.ms("txlog.last_committed_batch"), "ms", ""),
        "txlog.delete_mor_ms": (t.ms("delete_mor"), "ms", ""),
        "txlog.merge_mor_ms": (t.ms("merge_mor"), "ms", ""),
        "plans.sql_dml_ms": (t.ms("sql_update"), "ms", "SQL UPDATE"),
        "txlog.log_files": (facts.get("log_files", 0), "count", "at the end of a pass"),
        "txlog.live_files": (facts.get("live_files", 0), "count", "at the end of a pass"),
        "txlog.write_amplification": (
            facts["table_bytes"] / expected["user_bytes"] if "table_bytes" in facts else 0.0,
            "x", "table bytes over input bytes"),
        "catalog.sql_read_ms": (t.ms("sql_read"), "ms", ""),
        "matview.refresh_ms": (t.ms("mv_refresh"), "ms", ""),
        "matview.refresh_jobs": (t.jobs_per("mv_refresh"), "count", ""),
        "matview.read_ms": (t.ms("mv_read"), "ms", ""),
    })
    for cat, kinds in CATEGORIES.items():
        m.update(_latency(cat, [o["ms"] for o in raw["ops"]
                                if o["pass"] in untraced_ids and o["kind"] in kinds]))
    for name, unit in SPARK_COUNTERS:
        m[f"spark.{name}"] = (t.per_pass(lambda p: p["spark"][name]), unit, "per pass")
    m["spark.driver_only_s"] = (t.per_pass(t.driver_only_s), "s",
                                "pass wall outside every Spark job")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (median([s.get(layer, 0) for s in self_s]), "s", "per pass")
    m["jvm.gc_s"] = (t.per_pass(lambda p: p["gc_s"]), "s", "per pass")
    m["host.calibration_ms"] = (sum(raw["calibration_ms"]) / 2, "ms",
                                "fixed JVM loop at start and end: "
                                + ", ".join(f"{c:.1f}" for c in raw["calibration_ms"]))
    m["trace.overhead_pct"] = (_overhead_pct(raw, t, untraced_ids), "%",
                               "median over operation kinds, traced over later untraced")
    return m
